package graft

class QueryRunSpec extends SparkTestBase {

  test("selected keeps the queries whose names start with a listed prefix, in name order") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(QueryRun.selected(None).map(_._1) == all)
    val picked = QueryRun.selected(Some(" q15, q14 ,,q200")).map(_._1)
    assert(picked == all.filter(n => Seq("q14", "q15", "q200").exists(n.startsWith)))
    assert(picked.nonEmpty && picked == picked.sorted)
    assert(picked.indexWhere(_.startsWith("q15")) == picked.lastIndexWhere(_.startsWith("q14")) + 1)
  }

  test("SPARK_GRAFT_CONF: k=v entries, empty segments skipped, a malformed entry is an error") {
    assert(QueryRun.confEntries("a=1;;b=x=y;;") == Seq("a" -> "1", "b" -> "x=y"))
    assert(QueryRun.confEntries("a=1;;;;b=") == Seq("a" -> "1", "b" -> ""))
    assert(QueryRun.confEntries("") == Seq.empty)
    for (bad <- Seq("oops", "=v")) {
      val e = intercept[RuntimeException](QueryRun.confEntries(s"a=1;;$bad"))
      assert(e.getMessage == s"SPARK_GRAFT_CONF: malformed entry '$bad' — expected k=v")
    }
  }

  test("releaseBetweenQueries keeps exactly the pinned memos and frees the rest") {
    val sc = spark.sparkContext
    SparkEntry.releaseBetweenQueries(spark)
    val before = sc.getPersistentRDDs.keySet
    // two consecutive consumers of the shared C10 memo, then frames the
    // release must free: an unpinned checkpoint and a cached frame
    val c10 = Seq("q111_community_stats", "q112_louvain_refine").map { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    val cp = spark.range(0, 100, 1, 2).toDF().localCheckpoint(true)
    val cached = spark.range(0, 100, 1, 2).toDF().cache()
    assert(cached.count() == 100)
    val loaded = sc.getPersistentRDDs.keySet
    assert(loaded.contains(org.apache.spark.sql.graftbridge.PlanBridge.checkpointRddId(cp).get))
    SparkEntry.releaseBetweenQueries(spark)
    val after = sc.getPersistentRDDs.keySet
    // the RDD both plans read is the C10 memo's checkpoint: kept, and
    // the only one kept (it may predate this test)
    val Seq(a, b) = c10.map(_.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet)
    val memo = a.intersect(b)
    assert(memo.size == 1, s"shared leaves $memo")
    assert(after == before ++ memo, s"before $before, loaded $loaded, after $after")
    assert(spark.sharedState.cacheManager.isEmpty)
    // the kept memo is still readable: a third consumer runs on it
    SparkEntry.queries("q59_bfs")(spark, sf).write.format("noop").mode("overwrite").save()
  }
}
