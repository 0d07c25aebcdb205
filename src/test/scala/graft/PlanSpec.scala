package graft

import graft.operators.XmlPipe
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: the Spark-first properties we rely on at scale
  * must be visible in the executed plan, not assumed — filter/column
  * pushdown into the parquet scan, broadcast joins for dims, top-k as
  * TakeOrderedAndProject, whole-stage codegen over the formatting
  * pipeline, and a shuffle-free reference-parity path.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("filters and projection push down to the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("GreaterThan(l_quantity,30.0"), p)
    assert(p.contains("ReadSchema"), p)
    // only the 5 needed columns are read, not all 11
    assert(!p.contains("l_tax"), "projection not pruned: l_tax read")
  }

  test("dimension joins broadcast; no shuffle for small sides") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1 aggregation is partial+final hash aggregate") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("xmlpipe formatting pipeline is shuffle-free whole-stage codegen") {
    val docs = Tables.load(spark, dir, "documents")
    val p = XmlPipe.formatDocs(docs, Seq("source", "doc_id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle in format path:\n$p")
    assert(p.contains("*(1)"), p)
  }

  test("string fields are formatted by the mem_markup kernel — no " +
      "from_json, no interpreted higher-order functions") {
    import org.apache.spark.sql.catalyst.expressions.{
      HigherOrderFunction, JsonToStructs}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val docs = Tables.load(spark, dir, "documents")
    val strings = docs.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }.toSeq
    assert(strings.size >= 2, docs.schema)
    val qe = XmlPipe.formatDocs(docs.select(strings.map(docs(_)): _*),
      strings.take(1)).queryExecution
    val exprs = new AdaptiveSparkPlanHelper {}
      .flatMap(qe.executedPlan)(_.expressions.flatMap(_.collect { case e => e }))
    val interpreted = exprs.filter {
      case _: JsonToStructs | _: HigherOrderFunction => true
      case _ => false
    }
    assert(interpreted.isEmpty, qe.executedPlan)
    assert(exprs.count(_.isInstanceOf[graft.functions.MemMarkupExpr]) ==
      strings.size, qe.executedPlan)
  }

  test("custom expressions stay inside whole-stage codegen") {
    // sdbm hash + minhash + dot product all implement doGenCode; the
    // projection over them must be a WholeStageCodegen stage, not an
    // interpreted fallback.
    import org.apache.spark.sql.functions._
    import graft.functions._
    val docs = Tables.load(spark, dir, "documents")
    val p = docs.select(
      sdbm_hash(col("doc_id"), col("text")),
      minhash_shingled(split(col("text"), " "), 3, 16),
      simhash64(split(col("text"), " ")),
      nfc_normalize(col("text")),
      strip_accents(col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p)
  }

  private def readSchema(p: String): String =
    "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse(
      fail(s"no ReadSchema in plan:\n$p"))

  test("join strategy hints are honored: SHUFFLE_HASH skips the sort") {
    // at scale, SMJ's sort cost dominates when one side is much
    // smaller but over the broadcast threshold — the hint is the
    // documented lever, and it must actually reach the planner
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.load(spark, dir, "lineitem")
      val o = Tables.load(spark, dir, "orders")
      val hinted = li.join(o.hint("SHUFFLE_HASH"),
        li("l_orderkey") === o("o_orderkey"))
      val p = hinted.queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"), p)
      val unhinted = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(unhinted.contains("SortMergeJoin"), unhinted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("snapshot diff is a shuffle join on the key — nothing " +
      "broadcast or nested-loop, output independent of corpus size") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("approx profiling has no Expand — the sketch replaces the " +
      "multi-distinct expansion of the exact pass") {
    val p = plan("profile_approx")
    assert(!p.contains("Expand"), p)
    // the exact twin DOES expand (one duplicate of the input per
    // distinct aggregate) — the contrast is the point
    assert(plan("profile_documents").contains("Expand"))
  }

  test("sampling split/mixture prune the scan to the columns they use") {
    // bucket math is a computed expression (not scan-pushable), but
    // column pruning must still reach the scan: a sampling decision
    // over 100 TB must not read the document bodies
    val split = plan("sample_split")
    assert(readSchema(split).contains("doc_id"), split)
    assert(!readSchema(split).contains("text"),
      "sample_split reads document text it never uses")
    val mix = plan("sample_mixture")
    assert(readSchema(mix).contains("doc_id") &&
      readSchema(mix).contains("source"), mix)
    assert(!readSchema(mix).contains("text"),
      "sample_mixture reads document text it never uses")
  }

  test("token budget shuffles only on the stratum key, nothing else") {
    val p = plan("sample_token_budget")
    // one repartition exchange for the per-source window (plus the
    // final orderBy's range exchange) — no join/aggregate shuffles
    val exchanges = "Exchange [a-z]+partitioning"
      .r.findAllIn(p).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly one hash shuffle (the stratum window):\n$p")
  }

  test("sequence packing shuffles once, on the shard window") {
    val p = plan("sample_packed")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected exactly one hash shuffle (the per-shard window):\n$p")
  }

  test("chunking is a narrow explode — no hash shuffle") {
    val p = plan("text_chunks")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle in chunking:\n$p")
    assert(readSchema(p).contains("text"), p)
  }

  test("semantic decontamination resolves candidates through a hash " +
      "equi-join on the cell id — the eval×corpus nested loop is gone") {
    val p = plan("decontam_semantic")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sketch heavy hitters: partial+final sketch aggregate, " +
      "candidates broadcast into the recount — full key set never " +
      "shuffles") {
    val p = plan("profile_heavy_sketch")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_heavy_hitter_keys"), p)
    // candidates reach the recount as a broadcast HASH join; the only
    // nested loop is the single-row total-count broadcast (the same
    // adjudicated scalar pattern as text_keywords / profile_histogram)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("AQE splits skewed join partitions at runtime — the automatic " +
      "complement to the manual salted join") {
    // a child session with the skew thresholds scaled to fixture size:
    // the production config differs only in these numbers (256 MB /
    // factor 5), the MECHANISM proven here is the same runtime re-plan
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    import org.apache.spark.sql.functions._
    import ss.implicits._
    // key 0 carries ~90% of the left side — one shuffle partition far
    // above the threshold, the shape that stalls a static plan's
    // straggler task at scale
    val left = ss.range(0, 20000)
      .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id"))
        .as("k"), col("id").as("v"),
        lpad(col("id").cast("string"), 32, "x").as("pad"))
    val right = ss.range(0, 200).select(col("id").as("k"),
      col("id").as("w"))
    val joined = left.join(right, "k").select(col("k"), col("v"), col("w"))
    // execute THIS frame (count() would plan a separate agg query and
    // leave this one's adaptive plan unfinalized)
    assert(joined.collect().nonEmpty)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(400))
    assert(p.contains("skew=true"),
      s"AQE did not mark the skewed join:\n${p.take(2000)}")
  }

  test("range join stays an equi-join — no nested-loop fallback") {
    // the bucket quantization must turn interval containment into an
    // equi-join on (keys, bucket); an inequality-only join would plan
    // as BroadcastNestedLoopJoin and die at scale
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("duplicated-span detection joins on the gram hash — " +
      "no nested loop, no broadcast hint") {
    // the dup-gram set grows with the corpus: it must reach the
    // position join as a plain equi-join AQE can pick a strategy for,
    // never a nested loop and never a forced broadcast. Asserted on
    // the REGISTERED build site (the memo's pre-checkpoint builder,
    // r19 — one build for spans/stats/scrub): the memoized entry's
    // post-checkpoint plan no longer shows the join, so the builder
    // itself is what must stay guarded.
    val p = graft.registry.RegDedup.dupSpans30Plan(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("compression signal is a shuffle-free codegen'd projection") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.operators.TextStats.compressionSignal(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(p.contains("*(1)"), p)
  }

  test("text search top-k compiles to TakeOrderedAndProject") {
    val p = plan("text_search")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("char diversity is a narrow codegen'd projection, not an " +
      "explode-and-shuffle") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.operators.TextStats.charDiversity(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(!p.contains("Generate"), s"unexpected explode:\n$p")
    assert(p.contains("*(1)"), p)
  }

  test("scrub pass is one shuffle-free codegen'd projection") {
    // a 100 TB scrub must be a single map stage: chained regexp
    // count+replace expressions, no exchange, inside whole-stage
    // codegen (checked before any presentation orderBy)
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.operators.Scrub.redact(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle in scrub:\n$p")
    assert(p.contains("*(1)"), p)
  }

  test("hybrid retrieval: the lexical pool still compiles to " +
      "TakeOrderedAndProject and the vector pool's only nested loop " +
      "carries the single-row query broadcast") {
    val p = plan("hybrid_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    // exactly the two adjudicated single-row build sides appear: the
    // lexical leg's corpus-count crossJoin (as in text_search) and the
    // vector leg's one-row query broadcast — nothing larger nested-loops
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
  }

  test("variant extraction is a narrow codegen'd projection over a " +
      "pruned scan — parse once, no shuffle before the sort") {
    val p = plan("q_variant")
    // the JSON doc is parsed to VARIANT exactly once; the four typed
    // outputs are variant_get projections over that single parse
    assert("parseJson".r.findAllIn(p).size == 1, p)
    assert("variant_get".r.findAllIn(p).size == 4, p)
    // reads only the composed columns, not the whole table (the
    // unused double column must be pruned from the scan schema)
    assert(!p.contains("value:double"), "unpruned events scan: value read")
    // exactly one exchange: the final presentation orderBy
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("variant aggregation keeps partial+final hash aggregation — " +
      "extractions flow through the agg pipeline") {
    val p = plan("q_variant_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("strict-parity rendering stays one codegen'd narrow projection") {
    // the projection itself (before the presentation orderBy, whose
    // range exchange wraps the plan in AQE and hides codegen spans)
    import org.apache.spark.sql.functions._
    import graft.functions.Render
    val ev = Tables.load(spark, dir, "events")
    val p = ev.select(
      Render.renderStrict(col("ts"), ev.schema("ts").dataType),
      Render.renderStrict(encode(coalesce(col("props"), lit("")), "UTF-8"),
        org.apache.spark.sql.types.BinaryType),
      Render.renderStrict(col("user_id"),
        org.apache.spark.sql.types.LongType, counter = true))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(p.contains("*(1)"), p)
  }

  test("tpch_q3: segment dim broadcasts, top-10 is TakeOrderedAndProject") {
    val p = plan("tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q5: every dim broadcasts — the only shuffle join is " +
      "fact-side lineitem⋈orders") {
    val p = plan("tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1, p)
  }

  test("tpch_q2: min-cost-per-part is agg + equi-join over the " +
      "derived partsupp — dims broadcast, no nested loop") {
    val p = plan("tpch_q2")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q11/q20: partsupp value and promotion plans are " +
      "broadcast-dim + hash-agg shapes; the only nested loop is " +
      "q11's 1-row total broadcast") {
    val p11 = plan("tpch_q11")
    assert(p11.contains("BroadcastHashJoin"), p11)
    assert(!p11.contains("CartesianProduct"), p11)
    val p20 = plan("tpch_q20")
    assert(!p20.contains("BroadcastNestedLoopJoin"), p20)
    assert(!p20.contains("CartesianProduct"), p20)
  }

  test("tpch_q21: the flattened EXISTS/NOT-EXISTS is one per-order " +
      "aggregate re-joined on the order key — no nested loop, " +
      "supplier dim broadcasts") {
    val p = plan("tpch_q21")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("banded Hamming near-dup joins (image + audio) are hash " +
      "equi-joins on the flat band key — no nested loop, no " +
      "cartesian, never all-pairs") {
    for (name <- Seq("multimodal_phash_near", "multimodal_audio_fp_near")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
        .findFirstIn(p).isDefined, s"$name must join on the band key:\n$p")
    }
  }

  test("text_lm_score: model joins are hash equi-joins — no nested " +
      "loop, no cartesian; the corpus stream aggregates map-side first") {
    // audit the BUILDER plan, not the registry entry: the registry
    // hands back the suite-shared memoized frame (one lmScore
    // execution per suite), whose plan is just the checkpoint scan
    import org.apache.spark.sql.functions.col
    val p = graft.operators.TextStats.lmScore(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("the ANN band self-join shuffles the banded frame ONCE — AQE " +
      "stage reuse serves both join sides from one corpus shuffle") {
    // The 100 TB property explain strings HIDE: annCosinePairs joins
    // banded.as(a) to banded.as(b) — two references to the identical
    // corpus-sized subplan. If each side shuffled independently, the
    // candidate stage would write the banded frame TWICE; AQE's
    // shuffle-stage cache must serve both sides from one exchange.
    // Explain shows no ReusedExchange marker for runtime stage reuse,
    // so pin it at the metrics level: exactly ONE stage writes
    // bandedRows records, and total shuffle volume stays ~1x. The
    // fixture-scale plan broadcasts the small side (also shuffle-free)
    // — force the shuffle join, the shape the 100 TB corpus takes.
    import org.apache.spark.sql.functions.col
    val s = spark
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (w > 0) {
          stages.add((sc.stageInfo.stageId, w)); recs.addAndGet(w); ()
        }
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val emb = Tables.load(s, dir, "embeddings")
      val n = emb.count()
      val bandedRows = n * 4 // nTables=4 buckets per vector
      val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try graft.operators.Similarity.annCosinePairs(emb, 0.5).count()
      finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      Thread.sleep(2000) // listener bus drain (no public waitUntilEmpty)
      import scala.jdk.CollectionConverters._
      val writes = stages.asScala.toSeq.sortBy(_._1)
      val bandedStages = writes.count(_._2 == bandedRows)
      assert(bandedStages == 1,
        s"banded frame shuffled $bandedStages times (want 1 — stage " +
          s"reuse lost); per-stage: ${writes.mkString(", ")}")
      assert(recs.get() <= bandedRows + n + 200,
        s"total shuffle records ${recs.get()} exceed ~1x banded+vecs " +
          s"(${bandedRows + n}); per-stage: ${writes.mkString(", ")}")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("dynamic partition pruning reaches the fact scan's partition " +
      "filters when the only date predicate lives on a joined dim") {
    // The io_dpp shape distilled: a date-partitioned fact with NO
    // static partition predicate joined to a dim filtered on its own
    // attribute. The ONLY way the fact scan can prune partitions is
    // the runtime DynamicPruningExpression (broadcast keys re-used
    // as a partition filter) — assert it is IN the scan node, not
    // just somewhere in the plan.
    import org.apache.spark.sql.functions._
    val s = spark
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("value"), col("ts"))
    Scratch.withDir("graft-dpp-spec") { tmp =>
      val outF = new java.io.File(tmp, "fact").toString
      val outD = new java.io.File(tmp, "dim").toString
      graft.operators.Layout.writeDatePartitioned(ev, "ts", outF)
      ev.select(to_date(col("ts")).as("d")).distinct()
        .withColumn("g", pmod(datediff(col("d"),
          lit("2024-01-01").cast("date")), lit(7)))
        .write.mode("overwrite").parquet(outD)
      val fact = s.read.parquet(outF)
      val dim = s.read.parquet(outD).filter(col("g") === 2)
      val j = fact.join(broadcast(dim), fact("event_date") === dim("d"))
        .groupBy(fact("event_date")).count()
      val p = j.queryExecution.executedPlan.toString
      // the fact scan is the one reading the partition column: its
      // location string is cut at 100 chars, too early for the dir name
      // on a long scratch path
      val scanLine = p.linesIterator
        .find(l => l.contains("FileScan") && l.contains("[event_date#"))
        .getOrElse(fail(s"no fact FileScan in plan:\n$p"))
      assert(scanLine.contains("dynamicpruning"),
        s"no DynamicPruningExpression in the fact scan's partition " +
          s"filters:\n$scanLine\n\nfull plan:\n$p")
      // and the pruning actually executed: result matches the
      // relational answer over the unpartitioned original
      val expected = ev
        .filter(pmod(datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")), lit(7)) === 2)
        .groupBy(to_date(col("ts")).as("event_date")).count()
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      val got = j.collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      assert(got == expected && got.nonEmpty, s"got=$got expected=$expected")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim " +
      "join when the fact scan clears the size threshold") {
    // At 100 TB the fact side dwarfs the 10 GB default threshold and
    // this injection is automatic; the fixture scan is KBs, so lower
    // the threshold to prove the optimizer seam fires. Broadcast is
    // disabled because a broadcast join already semi-joins the fact
    // side — the bloom filter is the SHUFFLE-join complement.
    import org.apache.spark.sql.functions.col
    val s = spark
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val sel = Tables.load(s, dir, "orders").filter(col("o_custkey") < 5)
      val j = Tables.load(s, dir, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("might_contain"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("mode top-1 rank is map-side pre-truncated by WindowGroupLimit") {
    val p = plan("q_mode")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("winnow pair join runs ONE winnowing pass: the checkpoint " +
      "leaves no vocab re-derivation in the pair plan") {
    val (p, logged) = Scratch.logged(plan("dedup_winnow_pairs"))
    // post-checkpoint plan: the self-join reads the checkpointed
    // fingerprint scan, not four re-derivations of the corpus scan
    assert(!p.contains("dense_rank"), "vocab ranking re-derived:\n" + p)
    assert(logged.exists(_.label.contains("winnowPairs fingerprints")),
      "pre-checkpoint fingerprint plan not recorded")
  }

  test("AllPairs candidate join fans over the rank-order prefix, and " +
      "the verify stage joins candidates by key — no cartesian") {
    val p = plan("dedup_jaccard_allpairs")
    assert(!p.contains("CartesianProduct"), p)
    // prefix filter present: the rank row_number feeds a <= bound
    assert(p.contains("row_number") || p.contains("RunningWindowFunction"),
      p)
  }

  test("AllPairs is the 100 TB path: no forced broadcast of the " +
      "per-doc count table and no unpartitioned (single-task) window") {
    val qe = SparkEntry.queries("dedup_jaccard_allpairs")(spark, dir)
      .queryExecution
    // no broadcast() hints anywhere in the operator — the per-doc
    // counts frame must re-attach via plain equi-joins so AQE decides
    // by runtime size instead of a forced corpus-sized collect
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "forced broadcast hint in AllPairs plan:\n" + qe.analyzed)
    // every window is partitioned (by id) — the global token order is
    // an ORDER KEY (df, g), never a vocab-wide row_number sort
    val unpartitioned = qe.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      "single-task unpartitioned window in AllPairs plan")
  }

  test("ground-truth twins carry no forced broadcast either: the " +
      "per-doc count table re-attaches via plain equi-joins in both " +
      "ngram-Jaccard and containment") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_containment")) {
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      assert(!qe.analyzed.toString.contains("ResolvedHint"),
        s"forced broadcast hint in $q plan:\n" + qe.analyzed)
    }
  }

  test("ground-truth gram explodes sit on a defaultParallelism hash " +
      "exchange, never directly on the single-task file scan") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val par = spark.sparkContext.defaultParallelism
    // dedup_ngram_jaccard reads the gt_pairs memo, whose checkpoint
    // hides the gram join: guard the memo's registered builder
    val plans = Seq(
      "gt_pairs" -> SparkEntry.groundTruthPairsPlan(spark, dir),
      "dedup_containment" -> SparkEntry.queries("dedup_containment")(
        spark, dir))
    for ((name, df) <- plans) {
      val sp = df.queryExecution.sparkPlan
      val gens = sp.collect { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"$name: no gram Generate in\n$sp")
      for (g <- gens) {
        // walk down the narrow chain under the explode to the first
        // node that is not a projection or filter
        var below: SparkPlan = g.child
        while (below.children.size == 1 &&
            !below.isInstanceOf[ShuffleExchangeExec])
          below = below.children.head
        below match {
          case e: ShuffleExchangeExec =>
            e.outputPartitioning match {
              case h: HashPartitioning =>
                assert(h.numPartitions == par,
                  s"$name: spread to ${h.numPartitions}, want $par\n$sp")
              case other =>
                fail(s"$name: explode sits on a $other exchange\n$sp")
            }
          case _: FileSourceScanExec =>
            fail(s"$name: explode runs directly on the file scan\n$sp")
          case other =>
            fail(s"$name: explode sits on ${other.nodeName}\n$sp")
        }
      }
    }
  }

  test("retention and gapfill shuffle on their aggregate keys only — " +
      "no window over raw events in retention, spine join keyed") {
    val pr = plan("events_retention")
    assert(!pr.contains("CartesianProduct"), pr)
    val pg = plan("events_gapfill")
    assert(!pg.contains("CartesianProduct"), pg)
    // forward fill partitions by event_type (bounded per-partition
    // state), visible as a Window over the type key
    assert(pg.contains("Window"), pg)
  }

  test("incremental view maintenance joins delta-aggregated state — " +
      "a full-outer shuffle join on the key, base never re-aggregated " +
      "twice") {
    val p = plan("q_ivm_agg")
    assert(p.contains("FullOuter") || p.contains("full_outer") ||
      p.contains("FullOuterJoin") || p.contains("SortMergeJoin FullOuter") ||
      p.contains("fullouter"), p)
  }

  test("TPC-H SF-scaling dims ride a size gate — hinted broadcast " +
      "while under the session threshold, unhinted above it so AQE " +
      "decides from runtime sizes") {
    // default threshold (10 MB): sf0.001 customer is KBs, so the gate
    // applies the hint and the plan broadcasts the dim
    val hinted = plan("tpch_q10")
    assert(hinted.contains("BroadcastHashJoin"), hinted)
    // the sf100 regime (customer ≈ 15 M rows / GBs > any threshold),
    // simulated by disabling the threshold: bcDim must NOT force the
    // broadcast — only nation's O(1)-rows unconditional hint remains,
    // and the customer join falls back to a shuffle join until AQE
    // re-plans it from observed sizes
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val qe = SparkEntry.queries("tpch_q10")(spark, dir).queryExecution
      val hints = "ResolvedHint".r.findAllIn(qe.analyzed.toString).size
      assert(hints == 1,
        s"expected only the nation hint to survive:\n${qe.analyzed}")
      val exec = qe.executedPlan.toString
      assert(exec.contains("SortMergeJoin") ||
        exec.contains("ShuffledHashJoin"), exec)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("round-11 operators keep the scale invariants: no cartesian " +
      "products, corpus joins hashed, top-k as TakeOrdered") {
    // BM25/PRF: corpus-sized frames meet only in hash equi-joins; the
    // single-row N / L frames are the adjudicated 1-row BNLJ shape;
    // final top-k must be TakeOrderedAndProject, not a global sort
    for (q <- Seq("text_bm25", "text_prf_search")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
    // χ² grid: the class×vocab crossJoin is the documented feature
    // table build — both sides are AGGREGATED frames (class-sized ×
    // vocab-sized), never the corpus; no row-level cartesian appears
    val chisq = plan("text_chisq")
    assert(!chisq.contains("CartesianProduct"), chisq)
    // LPA round: edges join labels in a hash join on the node key
    val lpa = plan("graph_communities")
    assert(!lpa.contains("CartesianProduct"), lpa)
    assert(!lpa.contains("BroadcastNestedLoopJoin"), lpa)
    // events family: one window + equi-joins, nothing nested-loop
    for (q <- Seq("events_ewma", "events_transitions",
        "events_anomaly_mad", "events_winsorize")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // triplet mining: the anchor side must be the broadcast build
    // (batch-sized), never the corpus: exactly one broadcast exchange
    // feeding the BNLJ, and it hangs below the anchor filter
    val tri = plan("sim_triplets")
    assert(tri.contains("vec_id") && tri.contains("BroadcastExchange"),
      tri)
  }

  test("round-11 wave plan shapes: basket expansion is equi-join only, " +
      "neighbor top-k pre-truncates, skyline never goes quadratic") {
    // basket pair expansion: hash equi-join on the basket key; the
    // ONLY nested-loop is the 1-row basket-total broadcast
    val bp = plan("basket_pairs")
    assert(!bp.contains("CartesianProduct"), bp)
    assert(bp.split("BroadcastNestedLoopJoin").length - 1 <= 1, bp)
    // per-item neighbor rank truncates map-side before the shuffle
    val sim = plan("basket_item_sim")
    assert(sim.contains("WindowGroupLimit"), sim)
    // skyline: the whole point is avoiding the quadratic dominance
    // self-join — no nested loop, no cartesian anywhere in the plan
    val sky = plan("q_skyline")
    assert(!sky.contains("CartesianProduct"), sky)
    assert(!sky.contains("BroadcastNestedLoopJoin"), sky)
    // Welch: one data-sized aggregation; the pair join runs on the
    // 5-row stats frame (broadcast), never on raw events
    val w = plan("q_welch_ttest")
    assert(!w.contains("CartesianProduct"), w)
    // novelty: both shuffles key on the gram — no nested loop
    val nv = plan("text_novelty")
    assert(!nv.contains("CartesianProduct"), nv)
    assert(!nv.contains("BroadcastNestedLoopJoin"), nv)
  }

  test("wave-5 plan shapes: streaks shuffle on user only, gram/PCA " +
      "stay narrow+agg, quantile-norm's range lookup broadcasts the " +
      "domain table") {
    val st = plan("events_streaks")
    assert(!st.contains("CartesianProduct") &&
      !st.contains("BroadcastNestedLoopJoin"), st)
    // gram: explode + hash agg, nothing joined at all
    val gm = plan("sim_gram")
    assert(!gm.contains("Join"), gm)
    // quantile norm: the only nested-loop inputs are the 1-row total
    // and the value-DOMAIN cumulative table (both broadcast); the
    // row-sized frames join hash-wise on group
    val qn = plan("q_quantile_norm")
    assert(!qn.contains("CartesianProduct"), qn)
    assert(qn.split("BroadcastNestedLoopJoin").length - 1 <= 2, qn)
    assert(qn.contains("BroadcastExchange"), qn)
    // bucket reconciliation: digest phase is agg-only; drill joins are
    // hash equi-joins on (bucket) / (bucket, key)
    val br = plan("q_bucket_recon")
    assert(!br.contains("CartesianProduct") &&
      !br.contains("BroadcastNestedLoopJoin"), br)
  }

  test("round-12 wave plan shapes: value-grain stats never sort raw " +
      "rows, wedge link-prediction is equi-join + TakeOrdered, RFM's " +
      "only nested loops are the three 1-row boundary scalars") {
    // MW/KS/Gini: the raw table meets only a hash aggregation; the
    // single-partition window runs on the aggregated value-domain
    // frame (one Sort AFTER the partial+final agg pair, none before)
    for (q <- Seq("events_mann_whitney", "events_ks", "events_gini")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q:\n$p")
      val sortIdx = p.indexOf("Sort ")
      val aggIdx = p.indexOf("HashAggregate")
      assert(sortIdx == -1 || sortIdx > aggIdx,
        s"$q sorts before aggregating:\n$p")
    }
    // link prediction: hub-capped wedges explode from the pinned
    // per-via adjacency arrays (Generate), pair hash agg, top-k as
    // TakeOrderedAndProject — no all-pairs anywhere. The r19 shape
    // additionally pins: degrees attach via BROADCAST (the ~Σdeg²
    // pair frame must never re-shuffle or sort after its one
    // aggregation — the r18 SortMergeJoins over that frame were most
    // of the 100x probe's overhead)
    val lp = plan("graph_link_pred")
    assert(!lp.contains("CartesianProduct"), lp)
    assert(!lp.contains("BroadcastNestedLoopJoin"), lp)
    assert(lp.contains("TakeOrderedAndProject"), lp)
    assert(lp.contains("Generate"), lp)
    assert("BroadcastHashJoin".r.findAllIn(lp).size >= 2, lp)
    assert(!lp.contains("SortMergeJoin"),
      s"pair frame re-shuffled through a sort-merge join:\n$lp")
    // calendar-bounded day-pair censuses may nested-loop ONLY the
    // day frame against itself (domain-bounded by adjudication)
    for (q <- Seq("events_decompose", "events_changepoint",
        "events_holt", "events_life_table")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // RFM: exactly three cross joins, each broadcasting a 1-row
    // 4-column boundary frame (the adjudicated scalar pattern)
    val rfm = plan("events_rfm")
    assert(!rfm.contains("CartesianProduct"), rfm)
    assert(
      "BroadcastNestedLoopJoin".r.findAllIn(rfm).size == 3, rfm)
    assert("IdentityBroadcastMode".r.findAllIn(rfm).size >= 3, rfm)
  }

  test("runtime Bloom-filter injection prunes the fact side of a " +
      "selective dim join before the shuffle") {
    // the 100 TB lever beyond static pushdown: when a selective
    // filter sits on the dimension side, InjectRuntimeFilter plants a
    // bloom_filter_agg on it and a BloomFilterMightContain predicate
    // on the FACT side, so shuffle input shrinks at runtime. Child
    // session scales the size thresholds to fixture size; production
    // differs only in the numbers (the rule is on by default).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    // production default is 10GB of fact-side scan before the filter
    // pays for itself — scaled to the fixture here
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
      ".applicationSideScanSizeThreshold", "0")
    ss.conf.set(
      "spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.load(ss, dir, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_quantity"))
    val ords = Tables.load(ss, dir, "orders")
      .filter("o_totalprice > 400000")
      .select(org.apache.spark.sql.functions.col("o_orderkey"))
    val joined = li.join(ords,
      li("l_orderkey") === ords("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("bloom_filter_agg") ||
      p.contains("BloomFilterMightContain"),
      s"no runtime bloom filter injected:\n${p.take(3000)}")
    assert(joined.count() > 0)
  }

  test("CBO with ANALYZE'd statistics reorders a badly-written 3-way " +
      "join so the selective dims meet first") {
    // the optimizer surface beyond rule-based rewrites: with table +
    // column stats, cost-based join reorder ignores the SQL's join
    // order (orders first) and builds the tiny customer⋈nation
    // subtree before the fact table joins in
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    ss.conf.set("spark.sql.statistics.histogram.enabled", "true")
    for (tn <- Seq("orders", "customer", "nation")) {
      Tables.load(ss, dir, tn).write.mode("overwrite")
        .saveAsTable(s"cbo_$tn")
      ss.sql(s"ANALYZE TABLE cbo_$tn COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    val q = ss.sql("""
      SELECT o.o_orderkey, c.c_name, n.n_name
      FROM cbo_orders o
      JOIN cbo_customer c ON c.c_custkey = o.o_custkey
      JOIN cbo_nation n ON n.n_nationkey = c.c_nationkey
      WHERE n.n_name = 'NATION_7'""")
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val reordered = q.queryExecution.optimizedPlan.collect {
      case j: Join =>
        val leaves = j.collectLeaves().map(_.toString).mkString
        leaves.contains("cbo_customer") && leaves.contains("cbo_nation") &&
          !leaves.contains("cbo_orders")
    }.exists(identity)
    assert(reordered,
      "CBO did not build the customer x nation subtree first:\n" +
        q.queryExecution.optimizedPlan.toString.take(3000))
    assert(q.count() > 0)
    for (tn <- Seq("orders", "customer", "nation"))
      ss.sql(s"DROP TABLE cbo_$tn")
  }

  test("round-14 wave plan shapes: paragraph and k-means joins are " +
      "hash equi-joins, scene-cut windows are source-partitioned, " +
      "interleave heads via TakeOrderedAndProject") {
    for (n <- Seq("dedup_paragraphs", "dedup_paragraph_scrubbed",
        "sim_kmeans", "text_vocab_drift", "text_source_classifier",
        "graph_walks", "sample_poisson_bootstrap")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n:\n${p.take(2000)}")
    }
    // scene cuts: both windows run per source, never single-partition
    val sc = plan("multimodal_scene_cuts")
    assert(!sc.contains("Window [") ||
      !sc.contains("Exchange SinglePartition"),
      s"global window in scene cuts:\n${sc.take(2000)}")
    // interleave: the head is a TakeOrderedAndProject, not a global sort
    val il = plan("sample_interleave")
    assert(il.contains("TakeOrderedAndProject"), il.take(2000))
    // temperature mixture: the per-stratum rate frame joins broadcast
    val mt = plan("sample_mixture_temperature")
    assert(mt.contains("BroadcastHashJoin"), mt.take(2000))
    assert(!mt.contains("CartesianProduct"), mt.take(2000))
  }

  test("round-16 continuation plan shapes: LR scoring attaches the " +
      "1-row weight frame by broadcast, drift/curriculum never sort " +
      "doc grain or fall to single-partition exchanges") {
    // no new query may reintroduce the census anti-patterns: zero
    // cartesians, and any single-partition exchange must be the
    // 1-row GLOBAL-scalar-aggregate pattern (map-side partial_*
    // buffers are what crosses the wire, never row data)
    for (n <- Seq("text_quality_lr_score", "text_quality_lr_agreement",
        "text_token_drift", "sim_quantize_int8", "sample_curriculum",
        "sample_mixture_epochs", "sample_match_distribution",
        "sample_truncation_loss")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.take(2000)}")
      if (p.contains("Exchange SinglePartition"))
        assert(p.contains("partial_"),
          s"$n has a non-aggregate single-partition exchange:\n" +
            p.take(2000))
    }
    // the int8 audit is a pure narrow projection: no join, no
    // aggregate — the only exchange is the display sort's range
    // partitioning
    val qa = plan("sim_quantize_int8")
    assert(!qa.contains("Join") && !qa.contains("HashAggregate"),
      qa.take(2000))
    // drift's movers head is a TakeOrderedAndProject, not a global sort
    val dr = plan("text_token_drift")
    assert(dr.contains("TakeOrderedAndProject"), dr.take(2000))
    // curriculum re-attaches its bounded bucket frame by broadcast
    // hash join (the rank-free schedule's whole point)
    val cu = plan("sample_curriculum")
    assert(cu.contains("BroadcastHashJoin"), cu.take(2000))
    // LR per-doc scoring: the weight row arrives via the adjudicated
    // 1-row Cross-broadcast BNLJ
    val sc2 = plan("text_quality_lr_score")
    assert(sc2.contains("BroadcastNestedLoopJoin") &&
      sc2.contains("Cross"), sc2.take(2000))
  }
}
