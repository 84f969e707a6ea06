package graft

/** Plan-SHAPE regression tests (round-2 verdict item 9): the expensive
  * queries' physical plans must keep the properties that make them scale —
  * no cartesian products, top-k via TakeOrderedAndProject instead of a
  * global sort, broadcasts on the small (bit/centroid/query) tables, one
  * evaluation of tables referenced from both sides of a join. A future
  * plan regression (e.g. a lost broadcast hint or a window-function argmax
  * sneaking back in) fails here instead of only showing up as bench time.
  *
  * Plans are built against the driver's sf0.001 parquet fixtures (schema
  * and statistics realistic, planning instant); the suite is skipped if
  * the fixture directory is absent.
  */
class ExplainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def available: Boolean = new java.io.File(dir).isDirectory

  private def plan(q: String): String = {
    assume(available, s"$dir fixtures not present")
    val df = SparkEntry.queries(q)(spark, dir)
    val s = df.queryExecution.executedPlan.toString()
    spark.catalog.clearCache()
    s
  }

  test("no query plans a CartesianProduct") {
    // eager/streaming queries excluded: their returned frame is a local
    // result or a sink read, not the operator's plan
    val skip = Set("stream_guardian_e2e", "ann_ivf_kmeans_topk", "w_roundtrip")
    for (q <- SparkEntry.queries.keys if !skip(q)) {
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("ann_ivf_topk: broadcast centroids/query, hash-agg argmax, top-k without a global sort") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("BroadcastExchange"), "centroid/query tables must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrderedAndProject")
    assert(!p.contains("Window"), "argmax must stay a hash aggregate, not a window sort (round-1 regression)")
    assert(p.contains("PushedFilters") && p.contains("vec_id"),
      "centroid-id filter must push into the parquet scan")
  }

  test("ann_cosine_topk: broadcast query vector, top-k without a global sort") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("w_roundtrip embed: bit table broadcast, prefix via TakeOrderedAndProject") {
    assume(available, s"$dir fixtures not present")
    val embedded = graft.watermark.Watermarker.embed(
      spark.read.parquet(s"$dir/lineitem.parquet"), "WM01", "l_quantity",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"))
    val p = embedded.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 4·|wm|-row bit table must broadcast-join")
    assert(!p.contains("SortMergeJoin"), "no shuffle join against a constant-size table")
  }

  test("dedup_minhash_lsh: one evaluation of the signature pipeline, one scan of documents") {
    val p = plan("dedup_minhash_lsh")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "bucket pairing must not re-evaluate the signature pipeline (self-join would scan twice)")
  }

  test("dedup_ngram_jaccard: shingle table evaluated once (cached), reused on both join sides") {
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("InMemoryTableScan"),
      "the shingle table must come from the persisted relation on both join sides")
  }

  test("readConv: the conv_id predicate pushes into the parquet scan") {
    // self-contained fixture (no sf parquet needed): one committed epoch,
    // then the point lookup's plan must carry the conv filter to the scan
    // (row-group pruning at scale) on top of the manifest pruning
    val root = java.nio.file.Files.createTempDirectory("explain-conv").toString
    try {
      val turns = graft.gen.DeterministicGen.transcripts(
        spark, graft.gen.DeterministicGen.TranscriptSpec(nConvs = 3, turnsPerConv = 4, seed = 5))
      graft.stream.IceLite.commit(turns, root, 0L)(_ => new graft.lineage.DataLineage("t"))
      val p = graft.stream.IceLite.readConv(spark, root, "conv-000001")
        .queryExecution.executedPlan.toString()
      assert(p.contains("PushedFilters") && p.contains("conv_id"),
        s"conv_id must reach the scan's pushed filters: $p")
    } finally graft.stream.IceLite.rmTree(new java.io.File(root))
  }

  test("IceLite read-backs build their frames with no Spark job") {
    // the schema comes from a data file's footer, not an inference job:
    // compacted table + residual epoch, point lookup, one epoch
    val root = java.nio.file.Files.createTempDirectory("explain-read").toString
    try {
      val turns = graft.gen.DeterministicGen.transcripts(
        spark, graft.gen.DeterministicGen.TranscriptSpec(nConvs = 3, turnsPerConv = 4, seed = 6))
      (0L to 2L).foreach(b =>
        graft.stream.IceLite.commit(turns, root, b)(_ => new graft.lineage.DataLineage("t")))
      assert(graft.stream.IceLite.compact(spark, root))
      graft.stream.IceLite.commit(turns, root, 3L)(_ => new graft.lineage.DataLineage("t"))
      val frames = Seq(
        "read" -> (() => graft.stream.IceLite.read(spark, root)),
        "readConv" -> (() => graft.stream.IceLite.readConv(spark, root, "conv-000001")),
        "readEpoch" -> (() => graft.stream.IceLite.readEpoch(spark, root, 3L).get))
      frames.foreach { case (name, build) =>
        val (df, jobs) = jobsDuring(build())
        assert(jobs == 0, s"building IceLite.$name started $jobs job(s)")
        assert(df.columns.toSeq == turns.columns.toSeq, s"$name: ${df.columns.mkString(",")}")
      }
      assert(graft.stream.IceLite.read(spark, root).count() == 4 * turns.count())
    } finally graft.stream.IceLite.rmTree(new java.io.File(root))
  }

  test("shuffle-free projections plan ZERO exchanges") {
    // the scan-speed operators' whole value is no shuffle; a regression
    // (an accidental repartition, a window, a join) fails here
    // sample_rebalance/quality_logprob qualify: their count/vocab pass
    // runs eagerly at query-construction time, so the returned plan is a
    // pure projection+filter
    for (q <- Seq("text_repetition", "pii_redact", "sample_stratified",
        "chunk_documents", "quality_logprob", "sample_rebalance",
        "quality_classifier", "winnow_fingerprint", "cdc_chunks")) {
      assert(!plan(q).contains("Exchange"), s"$q must not shuffle")
    }
  }

  test("budgetSelect: an over-cutoff threshold bin shards the data-row window") {
    // above shardRowsCutoff the bin's running sum must be range-sharded
    // (r6): an unpartitioned Window over DATA rows would shuffle the
    // whole bin to one task. The only single-partition window allowed is
    // the ≤ nShards-row cross-shard offsets prefix (aggregates, not
    // rows). cutoff 0 forces the big-bin path at any fixture size.
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"a$i b$i c$i"))
      .toDF("doc_id", "text")
    val p = graft.ops.TrainingDataOps
      .budgetSelect(docs, 60L, shardRowsCutoff = 0L)
      .queryExecution.executedPlan.toString()
    spark.catalog.clearCache()
    assert(p.contains("hashpartitioning(__shard"),
      s"threshold-bin data window must be shard-partitioned: $p")
  }

  test("source_cap: bounded min-k aggregate, no window, no sort") {
    // (r6) the per-source cap is a bounded aggregate — a mega-domain
    // ships <= k ids per map task; a Window/Sort here is the skewed
    // single-task sort coming back
    val p = plan("source_cap")
    assert(!p.contains("Window"), s"cap must not plan a window: $p")
    assert(!p.contains("Sort "), s"cap must not sort: $p")
    assert(p.contains("ObjectHashAggregate"),
      s"min-k aggregate must drive the cap: $p")
  }

  test("corpus_retain: materialized-dup path plans no per-source window") {
    // (r6) the cap stage is the min-(cap+1) threshold join; the
    // running-sum window over data rows (single mega-domain task) is gone
    val p = plan("corpus_retain")
    assert(!p.contains("Window"), s"cap stage must not plan a window: $p")
  }

  test("pack_blocks: one bucket-key shuffle, no global sort") {
    val p = plan("pack_blocks")
    assert(!p.contains("rangepartitioning"),
      s"packing must never globally sort the corpus: $p")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"pack_blocks needs exactly the bucket-hash exchange: $p")
  }

  test("tfidf_top_terms: corpus row count broadcasts, never a cross shuffle") {
    val p = plan("tfidf_top_terms")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row corpus count must broadcast: $p")
  }

  test("cms_frequency_audit: top-k via TakeOrdered, counter table broadcasts") {
    val p = plan("cms_frequency_audit")
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact top-k prefix must never globally sort the vocabulary: $p")
    assert(p.contains("BroadcastExchange"),
      s"the fixed d x w counter table must broadcast to the probe: $p")
  }

  test("embedding_outliers: centroids and counts broadcast; no global sort") {
    val p = plan("embedding_outliers")
    assert(p.contains("BroadcastExchange"),
      s"label centroids/counts must broadcast back: $p")
    assert(!p.contains("rangepartitioning"),
      s"ranking is per-label (local sort), never a global sort: $p")
  }

  test("contamination_check: eval gram set broadcasts; training side never sort-merge-joins on grams") {
    val p = plan("contamination_check")
    assert(p.contains("BroadcastExchange"), "eval gram set must broadcast")
  }

  /** `body`'s result and the Spark jobs it starts on this thread. A
    * trailing marker job proves the listener bus has delivered every
    * earlier job start.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.explain.phase"))) match {
          case Some("body") => started.incrementAndGet(); ()
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.explain.phase", "body")
      val result = body
      sc.setLocalProperty("graft.explain.phase", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      (result, started.get)
    } finally {
      sc.setLocalProperty("graft.explain.phase", null)
      sc.removeSparkListener(listener)
    }
  }

  test("cross_dedup_exact: one 128-bit-key anti-join, no union, no bloom probe, no job at build") {
    assume(available, s"$dir fixtures not present")
    // reading parquet runs one schema-inference job; building the query
    // frame may run that and nothing else
    val (_, scanJobs) = jobsDuring(spark.read.parquet(s"$dir/documents.parquet"))
    val (df, buildJobs) = jobsDuring(SparkEntry.queries("cross_dedup_exact")(spark, dir))
    assert(buildJobs == scanJobs,
      s"building the frame ran ${buildJobs - scanJobs} Spark job(s) beyond the scan")
    val p = df.queryExecution.executedPlan.toString()
    assert("\\bLeftAnti\\b".r.findAllIn(p).size == 1, s"exactly one anti-join: $p")
    assert(!p.contains("Union"), s"no clean/maybe union: $p")
    assert(!p.contains("might_contain"), s"no bloom probe: $p")
  }

  test("dedup_exact: column pruning reaches the scan") {
    val p = plan("dedup_exact")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text"), s"text must be read: $read")
    assert(!read.contains("lang") && !read.contains("n_chars"),
      s"unused columns must be pruned from the scan: $read")
  }
}
