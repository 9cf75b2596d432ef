package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorStore

/** Physical-plan quality gates: these are the properties that make the
  * operators survive a 100x scale-up, asserted so regressions fail CI.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("text stats tokenizes once: single regexp pass bound in a lower projection") {
    // tokenization is the expensive regex pass and Catalyst cannot CSE
    // it across interpreted higher-order functions — TextAnalysis.stats
    // binds it in a separate projection level that CollapseProject must
    // KEEP (it does, because the producer is non-cheap and multiply
    // referenced). If a future Spark version or refactor collapses it,
    // every stats consumer re-tokenizes per stat (measured 5.2 s vs
    // 0.9 s for lang+quality over sf1) and this gate fails.
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = graft.operators.TextAnalysis.stats(docs)
      .select("doc_id", "pred_lang", "quality")
      .queryExecution.optimizedPlan.toString
    val regexCount = "regexp_extract_all".r.findAllIn(p).size
    assert(regexCount == 1, s"expected ONE tokenization, found $regexCount:\n${p.take(2000)}")
  }

  test("fence stops the quality-gate pushdown: gated stats still tokenize once") {
    // the pipeline_web/pipeline_curate pathology (r17, plans/r17):
    // filtering on a token-derived column right above the projection
    // that computes it lets PushPredicateThroughNonJoin inline the full
    // tokenize tree into the Filter — the corpus pays it twice. A
    // repartition does NOT stop that (filters push through
    // RepartitionByExpression); the non-deterministic identity fence
    // does, at zero runtime cost.
    val docs = graft.core.Tables.load(spark, dir, "documents")
    def gated(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      graft.operators.TextAnalysis.stats(docs)
        .select(col("doc_id"), f(col("pred_lang")).as("pred_lang"),
          f(col("quality")).as("quality"))
        .where(col("pred_lang") === "en" && col("quality") >= 0.5)
    val fenced = gated(graft.functions.GraftFunctions.fence)
    val pf = fenced.queryExecution.optimizedPlan.toString
    val nf = "regexp_extract_all".r.findAllIn(pf).size
    assert(nf == 1, s"fenced gate re-tokenizes ($nf passes):\n${pf.take(2000)}")
    // the unfenced contrast IS the duplication (documents why the fence
    // exists; if a future Spark CSEs across Filter/Project this starts
    // failing and the fence can be retired)
    val pu = gated(identity).queryExecution.optimizedPlan.toString
    val nu = "regexp_extract_all".r.findAllIn(pu).size
    assert(nu > 1, s"pushdown no longer duplicates ($nu) - fence removable?")
    // identity: the fence changes no value
    val a = fenced.orderBy("doc_id").collect().map(_.toString)
    val b = gated(identity).orderBy("doc_id").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("fence pushdown trade: predicates BELOW the fence reach the scan, ABOVE do not") {
    // the fence is non-deterministic, and PushPredicateThroughNonJoin
    // only pushes through an all-deterministic projection — so a fenced
    // projection blocks EVERY predicate above it, cheap ones included
    // (VERDICT r17 what's-wrong #5; measured here, not assumed). The
    // call-site discipline this pins: scan-prunable predicates are
    // applied BEFORE the fenced projection, where they still reach the
    // parquet scan; only the gate on the fenced derived column sits
    // above. If a future Spark starts pushing non-fenced predicates
    // through, the second assertion flags the fence placement rule as
    // relaxable.
    val docs = graft.core.Tables.load(spark, dir, "documents")
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan(df)).getOrElse("")
    def fencedStats(src: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.stats(src)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.fence(col("quality")).as("quality"))
    // discipline: cheap predicate below the fence -> at the scan
    val below = fencedStats(docs.where(col("doc_id") < 100))
      .where(col("quality") >= 0.5)
    assert(pushed(below).contains("LessThan(doc_id,100)"),
      s"pre-fence doc_id predicate missing from the scan: '${pushed(below)}'")
    // trade being paid: the same predicate above the fence stays there
    val above = fencedStats(docs)
      .where(col("doc_id") < 100 && col("quality") >= 0.5)
    assert(!pushed(above).contains("doc_id"),
      s"non-fenced predicate now pushes through a fenced projection — " +
        s"the place-predicates-below-the-fence rule may be relaxable: '${pushed(above)}'")
    // value identity across placements (fence changes no rows)
    assert(below.orderBy("doc_id").collect().map(_.toString).toSeq ==
      above.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("text_dsir: broadcast weight probe, bounded top-k, no cartesian/global sort") {
    // the bucket-weight table is <= buckets rows and must BROADCAST at
    // any corpus size; the final top-k must stay a bounded heap — a
    // shuffled weight join or a range-partitioned global sort here
    // would not survive a 100 TB corpus
    val p = plan(SparkEntry.queries("text_dsir")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort snuck in:\n" + p.take(3000))
  }

  test("single-query knn plans as TakeOrderedAndProject (bounded heap, no shuffle sort)") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), "global sort snuck in:\n" + p.take(2000))
  }

  test("rank<=k window is rewritten to WindowGroupLimit (no full per-group sort retention)") {
    val p = plan(SparkEntry.queries("q_window_rank")(spark, dir))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("column pruning reaches the parquet scan") {
    val p = plan(SparkEntry.queries("q_topn_parts")(spark, dir))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_retailprice:double>"), p.take(2000))
  }

  test("filter pushdown reaches the parquet scan") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = plan(emb.where(col("vec_id") === 7).select("vec_id"))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,7)]"), p.take(2000))
  }

  test("tag-partitioned store search prunes partitions statically") {
    val root = Files.createTempDirectory("graft-planspec").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    store.insert(Seq(
      ("a", Array(1f, 0f), "x", Seq("t1")),
      ("b", Array(0f, 1f), "y", Seq("t2")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    val p = plan(store.search(Seq(1f, 0f), tags = Seq("t1"), k = 1))
    // static partition pruning: the scan's partition filters carry tag_key
    assert(p.contains("tag_key"), p.take(3000))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tag_key"), s"no partition filter on tag_key:\n$scanLine")
    store.clear()
  }

  test("DPP store search prunes partitions at runtime (no driver manifest collect)") {
    val root = Files.createTempDirectory("graft-dpp").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    // enough rows that the DPP benefit heuristic sees a real scan to prune
    val rows = (0 until 300).map { i =>
      (s"id$i", Array(i.toFloat, (300 - i).toFloat),
        s"c$i", if (i % 3 == 0) Seq("t1") else Seq("t2"))
    }
    store.insert(rows.toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    val q = store.searchDpp(Seq(1f, 0f), tags = Seq("t1"), k = 5)
    val p = plan(q)
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning:\n${p.take(3000)}")
    // and it agrees with the driver-side manifest path
    val viaDpp = q.select("id").collect().map(_.getString(0)).toSet
    val viaManifest = store.search(Seq(1f, 0f), tags = Seq("t1"), k = 5)
      .select("id").collect().map(_.getString(0)).toSet
    assert(viaDpp == viaManifest && viaDpp.nonEmpty)
    store.clear()
  }

  test("default tag search routes through DPP past the manifest-size threshold") {
    // VERDICT r3 next #4: at millions of distinct tag sets the driver
    // collect + IN-list becomes driver pressure; search() must switch
    // to the broadcast-manifest DPP shape past the threshold (here
    // forced to 1 so a 2-set store routes).
    val root = Files.createTempDirectory("graft-dpproute").toString
    val routed = new VectorStore(spark, root, dppRouteThreshold = 1)
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (s"id$i", Array(i.toFloat, (300 - i).toFloat),
        s"c$i", if (i % 3 == 0) Seq("t1") else Seq("t2"))
    }
    routed.insert(rows.toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    val q = routed.search(Seq(1f, 0f), tags = Seq("t1"), k = 5)
    assert(plan(q).contains("dynamicpruning"),
      s"routed search did not use DPP:\n${plan(q).take(3000)}")
    // below the threshold the same store takes the static IN-list path
    val direct = new VectorStore(spark, root) // default threshold 10k
    val p2 = plan(direct.search(Seq(1f, 0f), tags = Seq("t1"), k = 5))
    assert(!p2.contains("dynamicpruning") && p2.contains("tag_key"), p2.take(3000))
    // identical results on both sides of the threshold
    val a = q.select("id").collect().map(_.getString(0)).toSet
    val b = direct.search(Seq(1f, 0f), tags = Seq("t1"), k = 5)
      .select("id").collect().map(_.getString(0)).toSet
    assert(a == b && a.size == 5)
    routed.clear()
  }

  test("searchMany: tag filter prunes store partitions statically (manifest IN-list)") {
    val root = Files.createTempDirectory("graft-manyprune").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    store.insert(Seq(
      ("a", Array(1f, 0f), "x", Seq("t1")),
      ("b", Array(0f, 1f), "y", Seq("t2")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    val qs = Seq((0L, Seq(1f, 0f))).toDF("qid", "qvec")
      .withColumn("qvec", col("qvec").cast("array<float>"))
    val p = plan(store.searchMany(qs, k = 1, tags = Seq("t1")))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tag_key"), s"no partition filter on tag_key:\n$scanLine")
    store.clear()
  }

  test("tagged searchHybrid: every store scan, BM25 leg and content join-back included, prunes on tag_key") {
    val root = Files.createTempDirectory("graft-hybridprune").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    store.insert(Seq(
      ("a", Array(1f, 0f), "quantum flux", Seq("t1")),
      ("b", Array(0f, 1f), "quantum field", Seq("t2")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    // the BM25 leg materializes its term counts while the query is built:
    // its scan is in that execution's plan, not in the returned one
    val built = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = { built.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val q = try {
      val q = store.searchHybrid(Seq(1f, 0f), Seq("quantum"), tags = Seq("t1"), k = 2)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      q
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val scans = (built.asScala.toSeq :+ plan(q)).flatMap(_.linesIterator)
      .filter(_.contains("/data/tag_key="))
    // the PartitionFilters list itself: the scan line's Location also
    // names the tag_key=... dirs
    val filters = scans.map("PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(_)
      .map(_.group(1)).getOrElse(""))
    assert(filters.size >= 3 && filters.forall(_.contains("tag_key")),
      s"a store scan without tag_key pruning:\n${scans.mkString("\n")}")
    assert(q.select("id").as[String].collect().toSeq == Seq("a"))
    store.clear()
  }

  test("searchMany: one scan into one top-k heap aggregate — no join, no window, a plan that does not grow with the batch") {
    val root = Files.createTempDirectory("graft-manyheap").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    store.insert((0 until 64).map { i =>
      (s"id$i", Array(math.cos(i / 10.0).toFloat, math.sin(i / 10.0).toFloat, (i % 7).toFloat),
        s"c$i", Seq(if (i % 2 == 0) "t1" else "t2"))
    }.toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    def batch(n: Int) = (0 until n).map(i => (i.toLong, Seq(1f, i.toFloat, 0.5f))).toDF("qid", "qvec")
    val p4 = plan(store.searchMany(batch(4), k = 3, tags = Seq("t1")))
    assert(Seq("Join", "Window").forall(n => !p4.contains(n)), p4)
    assert(p4.contains("graft_topk_heaps") && p4.contains("graft_batch_scores"), p4)
    val scanLine = p4.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tag_key"), s"no partition filter on tag_key:\n$scanLine")
    // expression and plan ids aside, 1024 queries print like 4
    def shape(p: String) = p.replaceAll("\\d+", "0")
    val p1024 = plan(store.searchMany(batch(1024), k = 3, tags = Seq("t1")))
    assert(shape(p1024).length <= shape(p4).length, s"4 queries:\n$p4\n1024 queries:\n$p1024")
    store.clear()
  }

  test("searchManyAnn: static partition pruning on probed lists, one heap per query, no window") {
    val root = Files.createTempDirectory("graft-manyann").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    val rows = (0 until 64).map { i =>
      (s"id$i", Array(math.cos(i / 10.0).toFloat, math.sin(i / 10.0).toFloat,
        (i % 7).toFloat, (i % 5).toFloat), s"c$i", Seq("t"))
    }
    store.insert(rows.toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    store.buildAnnIndex(4)
    val qs = rows.take(2).zipWithIndex
      .map { case (r, i) => (i.toLong, r._2.toSeq) }
      .toDF("qid", "qvec").withColumn("qvec", col("qvec").cast("array<float>"))
    val p = plan(store.searchManyAnn(qs, k = 3, nprobe = 2))
    // the probed-list union reaches the index scan as a STATIC partition
    // IN-list (non-probed lists never read) and one bounded heap per
    // qid ranks the pairs (at most k per query leave each partition)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cid"), s"no static partition filter on cid:\n$scanLine\n${p.take(3000)}")
    assert(p.contains("graft_topk_heaps") && !p.contains("Window"), p.take(3000))
    store.clear()
  }

  test("plain SQL over a registered store table: tag-superset partition pruning (VERDICT r7 #4)") {
    val root = Files.createTempDirectory("graft-sqlprune").toString
    val store = new VectorStore(spark, root)
    import spark.implicits._
    store.insert(Seq(
      ("a", Array(1f, 0f), "x", Seq("t1")),
      ("b", Array(0.9f, 0.1f), "x2", Seq("t1", "t2")),
      ("c", Array(0f, 1f), "y", Seq("t2")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    store.registerSqlTable("graft_sqlprune_store")
    // no facade call: a plain SQL predicate on the tags ARRAY must
    // resolve to tag_key PARTITION pruning via TagSupersetPruning
    val q = spark.sql(
      "SELECT id FROM graft_sqlprune_store WHERE array_contains(tags, 't1')")
    val p = plan(q)
    // the PartitionFilters list itself, not the scan line: the line also
    // names the tag_key=... dirs in its Location
    val filters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(filters.contains("tag_key") && filters.contains(" IN ("),
      s"no tag_key partition pruning:\n$filters\n${p.take(3000)}")
    // superset semantics through BOTH paths: {t1} matches tag sets
    // {t1} and {t1,t2}
    val sqlIds = q.collect().map(_.getString(0)).toSet
    val facadeIds = store.search(Seq(1f, 0f), tags = Seq("t1"), k = 10)
      .select("id").collect().map(_.getString(0)).toSet
    assert(sqlIds == Set("a", "b") && facadeIds == sqlIds, s"$sqlIds vs $facadeIds")
    // multi-tag conjunction narrows to the {t1,t2} partition
    val both = spark.sql("SELECT id FROM graft_sqlprune_store WHERE " +
      "array_contains(tags, 't1') AND array_contains(tags, 't2')")
    assert(both.collect().map(_.getString(0)).toSet == Set("b"))
    // unknown tag: no matching set -> pruned to an empty scan
    assert(spark.sql("SELECT id FROM graft_sqlprune_store WHERE " +
      "array_contains(tags, 'nope')").count() == 0)
    // an explicit tag_key predicate is never second-guessed (rule skips)
    assert(spark.sql("SELECT id FROM graft_sqlprune_store WHERE " +
      "array_contains(tags, 't1') AND tag_key <> ''").count() == 2)
    // STALENESS SAFETY (review r8): a write AFTER registration adds a
    // generation dir the frozen registry has never seen — a fresh
    // snapshot read must NOT be pruned by the stale tag-set metadata
    // (the registry keys on the snapshot's exact dirs, so the rule
    // simply doesn't fire). An earlier draft prefix-matched on the
    // store root and returned ZERO rows here.
    store.insert(Seq(("d", Array(0.5f, 0.5f), "z", Seq("t3")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    val fresh = store.table().where(array_contains(col("tags"), "t3"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(fresh == Set("d"), s"stale pruning dropped fresh rows: $fresh")
    // re-registering refreshes both the view and the pruning metadata
    store.registerSqlTable("graft_sqlprune_store")
    val viaSql = spark.sql("SELECT id FROM graft_sqlprune_store WHERE " +
      "array_contains(tags, 't3')").collect().map(_.getString(0)).toSet
    assert(viaSql == Set("d"), viaSql.toString)
    store.clear()
  }

  test("q3 aggregates BELOW the join: keys-only shuffled-hash semi join, top-k heap") {
    val p = plan(SparkEntry.queries("q3_top_revenue")(spark, dir))
    // the revenue agg groups on the lineitem side's own key — lineitem
    // never crosses the wire at full width
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // orders contributes only its key column to the existence check
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"), p.take(3000))
    // r18: the semi join is pinned SHUFFLE_HASH — the key set is the
    // full fact-sized orders table, so a broadcast (AQE's pick from the
    // small local estimate) would collect+build millions of keys on the
    // driver per execution and cannot survive real scale. Exactly two
    // shuffle exchanges: partial->final agg, plus the keys-only orders
    // side; the agg side reuses its own partitioning. Never sort-merge.
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"$shuffles shuffle exchanges:\n" + p.take(3000))
  }

  test("aggregations are partially aggregated map-side (two HashAggregate stages)") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("broadcast joins picked for small dimension tables") {
    val p = plan(SparkEntry.queries("q_multi_join")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("no query ranks with a partition-less window over unbounded input") {
    // The r1 anti-pattern (VERDICT What's-wrong #3): row_number() over
    // an un-partitioned window moves the whole scored corpus to ONE
    // partition. Legal only after a limit has bounded the input to k
    // rows. Checked across the entire query inventory.
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, dir).queryExecution.sparkPlan
      p.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          val bounded = w.child.find {
            case _: TakeOrderedAndProjectExec | _: GlobalLimitExec | _: CollectLimitExec => true
            case _ => false
          }.isDefined
          assert(bounded,
            s"$name: global window over unbounded input:\n${w.treeString.take(2000)}")
        case _ => ()
      }
    }
  }

  test("bm25 plan: broadcast stats row + bounded top-k, no corpus shuffle") {
    // the only Exchange allowed is the one-row stats aggregation; the
    // corpus side must go scan -> projection -> TakeOrderedAndProject
    val p = plan(SparkEntry.queries("text_bm25")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("bm25 token work is ONE kernel pass — checkpointed base, no interpreted HOF lambdas (r9 #2, r17)") {
    // the per-term size(filter(ws, w = t)) form ran T interpreted
    // lambda walks over the token array per doc (r9 #2); the kernel
    // path then showed one graft_term_counts per corpus scan — but
    // TWO scans (stats pass + scoring pass) re-ran the kernel. Since
    // r17 bm25Scored localCheckpoints its term-count base, so the
    // kernel runs ONCE at materialization and BOTH passes read the
    // checkpoint: the optimized plan must show ZERO inline kernels and
    // the checkpoint scan. Any inline kernel here means the checkpoint
    // was lost and the corpus pays the tokenize per consumer again.
    for (q <- Seq("text_bm25", "text_bm25_query")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      val kernels = "graft_term_counts".r.findAllIn(p).size
      assert(kernels == 0, s"$q: expected the kernel behind the " +
        s"checkpoint, found $kernels inline:\n${p.take(3000)}")
      assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
        s"$q: checkpointed base missing:\n${p.take(3000)}")
      assert(!p.contains("lambdafunction"),
        s"$q: interpreted HOF lambda in the hot path:\n${p.take(3000)}")
    }
    // the base itself still carries exactly ONE kernel call (query-
    // independent — checked once, not per loop iteration)
    val tc = graft.operators.Search
      .bm25Scored(graft.core.Tables.load(spark, dir, "documents"),
        Seq("vector", "merge"))
      .queryExecution.analyzed.toString
    assert(!tc.contains("lambdafunction"), tc.take(2000))
  }

  test("dedup-ingest probe statically prunes to the batch's content buckets (r9 #3)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-plan-cidx").toString
    val store = new VectorStore(spark, root, contentIdxMinBytes = 0L)
    val rows = (0 until 40).map(i =>
      (f"r$i%03d", Array(i.toFloat, 1f), s"content-$i", Seq("t")))
    store.insertDedup(rows.toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    // prime the sidecar (first insertDedup on the then-empty store
    // skipped the probe)
    store.insertDedup(Seq(("rx", Array(9f, 9f), "content-x", Seq("t")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    assert(store.contentIdx.valid)
    // a one-content batch probes ONE bucket: the sidecar scan must show
    // a cbucket partition filter (static pruning), not a full read
    val batchHashes = Seq("content-5").toDF("c")
      .select(coalesce(sha2(col("c"), 256), lit("__graft_null__")).as("chash"))
    val p = store.contentIdxProbe(batchHashes)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("cbucket") && (pf.contains(" IN ") || pf.contains("cbucket#") && pf.contains("=")),
      s"no cbucket partition pruning in probe plan: '$pf'\n${p.take(3000)}")
    store.clear()
  }

  test("near-dup ingest probe statically prunes to the batch's signature buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-plan-nidx").toString
    val store = new VectorStore(spark, root)
    val texts = (0 until 30).map(i =>
      s"document number $i talks about topic $i with enough distinct words " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i to shingle properly")
    store.insertNearDedup(texts.zipWithIndex.map { case (t, i) =>
      (f"p$i%03d", Array(i.toFloat, 1f), t, Seq("t")) }
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    // second batch primes the sidecar (first ran against an empty store)
    store.insertNearDedup(Seq(("px", Array(9f, 9f),
      "a fresh unrelated sentence about tide pools and barnacles", Seq("t")))
      .toDF("id", "vector", "content", "tags")
      .withColumn("vector", col("vector").cast("array<float>")))
    assert(store.nearIdx.valid)
    // a one-doc batch probes at most LshBands buckets: the sidecar scan
    // must show a bbucket partition filter (static pruning), not a
    // full read
    val probeRows = Seq(("q1", "completely different words about mountain trails and cedar"))
      .toDF("id", "content")
    val p = store.nearIdxProbe(
      graft.operators.IngestSidecar.bandRowsOf(graft.operators.IngestSidecar.sigsOf(probeRows)))
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("bbucket") && (pf.contains(" IN ") || pf.contains("=")),
      s"no bbucket partition pruning in probe plan: '$pf'\n${p.take(3000)}")
    // and the probe stays semantically live through the public path
    val before = store.table().count()
    store.insertNearDedup(probeRows
      .withColumn("vector", array(lit(1f), lit(2f)).cast("array<float>"))
      .withColumn("tags", array(lit("t"))))
    assert(store.table().count() == before + 1)
    store.clear()
  }

  test("matryoshka coarse scan reads ONLY the prefix column; refine pushes the id IN-list (r9 #1)") {
    import graft.operators.SimilaritySearch
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-mat").toString + "/idx"
    SimilaritySearch.buildPrefixIndex(emb, dims = 16, path)
    val idx = spark.read.parquet(path)
    // coarse: the whole point of the physical column — the 64-dim
    // embedding bytes must NOT be in the scan schema
    val coarse = SimilaritySearch.matryoshkaCoarse(
      idx.where(col("vec_id") =!= 0), q, dims = 16, refineK = 50)
    val cp = coarse.queryExecution.executedPlan.toString
    val cSchema = "ReadSchema: struct<[^>]*>".r.findFirstIn(cp).getOrElse("")
    assert(cSchema.contains("vec_prefix") && !cSchema.contains("embedding:"),
      s"coarse scan still reads full vectors: $cSchema\n${cp.take(2000)}")
    // refine: full query's returned plan is the refine stage (coarse
    // ids resolved driver-side) — id IN-list reaches PushedFilters so
    // vec_id-sorted files prune row groups
    val full = SparkEntry.queries("ann_matryoshka")(spark, dir)
    val fp = full.queryExecution.executedPlan.toString
    assert(fp.contains("PushedFilters: [") && fp.contains("In(vec_id"),
      s"refine id list not pushed:\n${fp.take(3000)}")
  }

  test("ann_ivf_join: probes broadcast onto argmin-assigned corpus (no cartesian)") {
    val p = plan(SparkEntry.queries("ann_ivf_join")(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("graft_topk_heaps"), p.take(3000))
  }

  test("bounded query batches rank through heaps: no window in the knn and IVF rows, no join in the exact rows, no generator under the IVF join") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.{SparkPlan => Phys}
    def has(p: Phys)(f: PartialFunction[Phys, Boolean]) = p.find(n => f.applyOrElse(n, (_: Phys) => false)).isDefined
    def window(p: Phys) = has(p) { case _: WindowExec | _: WindowGroupLimitExec => true }
    val exactRows = Seq("knn_multiquery", "knn_classify")
    val ivfRows = Seq("knn_multiquery_heap", "ann_ivf_join")
    val plans = (exactRows ++ ivfRows).map(n => n -> SparkEntry.queries(n)(spark, dir).queryExecution.sparkPlan).toMap
    for ((n, p) <- plans) {
      assert(!window(p) && p.toString.contains("graft_topk_heaps"), s"$n:\n${p.treeString.take(3000)}")
      assert(!exactRows.contains(n) || !p.toString.contains("Join"), s"$n:\n${p.treeString.take(3000)}")
    }
    // ivfJoin: the probe is driver arithmetic, not an exploded codebook;
    // the one generator unpacks the heaps above the aggregate
    for (n <- ivfRows) {
      val joins = plans(n).collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty && joins.forall(j => !has(j) { case _: GenerateExec => true }),
        s"$n:\n${plans(n).treeString.take(3000)}")
    }
    val store = new VectorStore(spark, Files.createTempDirectory("graft-heaps").toString)
    import spark.implicits._
    store.insert((0 until 32).map { i =>
      (s"id$i", Array(math.cos(i / 5.0).toFloat, math.sin(i / 5.0).toFloat, (i % 3).toFloat), s"c$i", Seq("t"))
    }.toDF("id", "vector", "content", "tags").withColumn("vector", col("vector").cast("array<float>")))
    store.buildAnnIndex(4)
    val qs = Seq((0L, Seq(1f, 0f, 1f)), (1L, Seq(0f, 1f, 2f))).toDF("qid", "qvec")
      .withColumn("qvec", col("qvec").cast("array<float>"))
    for (auto <- Seq(store.searchManyAnn(qs, k = 3), store.searchManyAnn(qs, k = 3, tags = Seq("t")))) {
      val p = auto.queryExecution.sparkPlan
      assert(!window(p), p.treeString.take(3000))
    }
    store.clear()
  }

  test("ann_ivf plan has no Exchange (broadcast-codebook argmin, IN-list probe)") {
    // r1 assigned centroids with Window.partitionBy(vec_id) — a full
    // corpus shuffle (VERDICT What's-wrong #4). The expression argmin +
    // driver-side probe list needs no Exchange anywhere.
    val p = plan(SparkEntry.queries("ann_ivf")(spark, dir))
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("multimodal codec lanes are single-scan mapPartitions pipelines: no Exchange") {
    // encode -> decode -> feature-extract stays inside one partition-
    // local pass per lane (ordering aside); any Exchange before the
    // final orderBy means a codec stage accidentally shuffled payloads
    for (n <- Seq("mm_decode", "mm_audio", "mm_video")) {
      val df = SparkEntry.queries(n)(spark, dir)
      val body = df.queryExecution.executedPlan.toString
      // the inventory row ends in orderBy (oracle determinism); strip
      // its final range-partitioning sort and require nothing below it
      // shuffles
      val belowSort = body.split("\n").dropWhile(l => l.contains("Sort") ||
        l.contains("Exchange rangepartitioning") || l.contains("AdaptiveSparkPlan") ||
        l.contains("== Final Plan ==") || l.contains("== Initial Plan ==") ||
        l.trim.isEmpty).mkString("\n")
      assert(!belowSort.contains("Exchange hashpartitioning"),
        s"$n shuffles below the output sort:\n${belowSort.take(2000)}")
      assert(!belowSort.contains("CartesianProduct"), n)
    }
  }

  test("r6 query family: no CartesianProduct anywhere") {
    for (n <- Seq("text_keywords", "text_lm_score", "ev_funnel", "ann_maxsim",
                  "hybrid_rrf", "text_pack", "text_shards", "pipeline_prepare",
                  "embed_pool", "graph_pagerank", "dedup_semantic",
                  "dedup_semantic_scaled", "text_bm25_query")) {
      val p = plan(SparkEntry.queries(n)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.take(2000)}")
    }
  }

  test("ann_pq plan has no Exchange (codes + LUT lookups are a pure projection)") {
    val p = plan(SparkEntry.queries("ann_pq")(spark, dir))
    assert(!p.contains("Exchange"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("ann_ivf_quantized scores through the fused packed kernel (oracle-pinned numerics)") {
    val q = SparkEntry.queries("ann_ivf_quantized")(spark, dir)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_cosine_packed"),
      s"FuseQuantizedKernels did not fuse cosine(unpack(pack)):\n${opt.take(3000)}")
    assert(q.count() == 5)
  }

  test("IVF index layout: probes prune partitions statically (cid partition column)") {
    // the store's committed ANN index is the cid-partitioned layout
    val store = new VectorStore(spark, Files.createTempDirectory("graft-ivf").toString)
    val vt = graft.core.Tables.vectorTable(spark, dir)
      .select(col("id").cast("string").as("id"), col("vector"), col("content"), col("tags"))
    store.insert(vt)
    store.buildAnnIndex(4)
    val qv = vt.where(col("id") === "7").select("vector").head().getSeq[Float](0)
    val q = store.searchAnn(qv, k = 5, nprobe = 2)
    val scanLine = plan(q).linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cid"), s"no partition filter on cid:\n$scanLine")
    assert(q.count() == 5)
    store.clear()
  }

  test("bucketed co-located join plans with no Exchange (amortized shuffle)") {
    import graft.operators.Bucketing
    val o = graft.core.Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val l = graft.core.Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(o, "graft_orders_b", 8, "o_orderkey")
    Bucketing.writeBucketed(l, "graft_lineitem_b", 8, "l_orderkey")
    try {
      val j = Bucketing.colocatedJoin(spark, "graft_orders_b", "graft_lineitem_b",
        "o_orderkey", "l_orderkey")
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + p.take(3000))
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  test("decontamination probes a BROADCAST benchmark set with two-stage counting") {
    // the benchmark n-gram set must broadcast (it is tiny next to the
    // corpus) and the overlap count must partial-aggregate map-side —
    // an Exchange of raw corpus n-grams would be a corpus-sized shuffle
    val p = plan(SparkEntry.queries("decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("curation joins the dup graph back by BROADCAST (corpus never reshuffles)") {
    // stats-driven, not hinted: the small-graph (union-find) path yields
    // a LocalRelation whose exact size triggers the broadcast; a forced
    // hint would OOM on dup-heavy corpora where the graph is huge
    val p = plan(SparkEntry.queries("pipeline_curate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join snuck in:\n" + p.take(3000))
  }

  test("kernels run inside whole-stage codegen") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .select(graft.functions.GraftFunctions.cosine(col("embedding"), col("qv")).as("sim"))
    scored.collect() // finalize THIS query execution's adaptive plan
    val p = plan(scored)
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact
    // rendering; the projection with graft_cosine must carry one
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("graft_cosine")),
      p.take(3000))
  }

  test("range join plans as an equi hash join on buckets, never a nested loop") {
    // a bare interval predicate plans as BroadcastNestedLoopJoin —
    // O(points x intervals) work that dies when the interval side is a
    // fact table. The bucketed rewrite must keep it a HASH equi-join
    // (broadcast or shuffled, both fine; AQE skew-split applies to
    // either) with the exact range refine on top
    val p = plan(SparkEntry.queries("ev_range_join")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashJoin"), p.take(3000))
  }

  test("heavy hitters: CMS candidate filter sits BELOW the aggregation, in codegen") {
    // the whole point of the sketch pass is that non-candidate rows
    // die before the partial agg and the exchange — if the filter ever
    // floats above the aggregate, the plan degrades to the naive
    // all-distinct-keys shuffle it exists to avoid
    val df = SparkEntry.queries("text_heavy_hitters")(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages render
    // AQE prints "== Initial Plan ==" after the final plan — index
    // ordering is only meaningful within the final section
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("graft_cms_estimate"), p.take(3000))
    val lastAgg = p.lastIndexOf("HashAggregate")
    val cms = p.indexOf("graft_cms_estimate")
    assert(lastAgg >= 0 && cms > lastAgg,
      "cms filter is not below the aggregation:\n" + p.take(3000))
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("graft_cms_estimate")),
      "cms probe fell out of whole-stage codegen:\n" + p.take(3000))
  }

  test("semantic decontamination is a pure projection+filter: zero exchanges") {
    // the benchmark set rides as a task constant inside the kernel —
    // if a join or aggregation (and with them an Exchange) ever
    // appears here, the corpus is being shuffled to compare against a
    // bounded eval set
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val bench = emb.where(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val df = graft.operators.Curation.decontaminateSemantic(
      emb.where(col("vec_id") % 97 =!= 0), bench, tau = 0.35)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Exchange"), "corpus shuffle snuck in:\n" + p.take(3000))
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("graft_max_cosine")),
      "max-cosine probe fell out of whole-stage codegen:\n" + p.take(3000))
  }

  test("bloom semi join: probe filters the left side BELOW the join, in codegen") {
    // the bloom exists to kill non-matching left rows before the
    // join's exchange — above the join it would be dead weight
    val df = SparkEntry.queries("q_bloom_semi")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("graft_bloom_contains"), p.take(3000))
    val joinIdx = p.indexOf("Join")
    val bloomIdx = p.indexOf("graft_bloom_contains")
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      "bloom probe is not below the join:\n" + p.take(3000))
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("graft_bloom_contains")),
      "bloom probe fell out of whole-stage codegen:\n" + p.take(3000))
  }

  test("topic clusters: rank window rewrites to WindowGroupLimit, no cartesian") {
    val p = plan(SparkEntry.queries("text_cluster")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      "top-k per cluster retains the full per-group sort:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("fuzzy join: variant equi hash join, never the O(V^2) nested loop") {
    // the naive levenshtein(a,b) <= d predicate has no equi keys and
    // plans as BroadcastNestedLoopJoin — quadratic in the vocabulary.
    // The FastSS rewrite must keep it a HASH equi-join on the deletion
    // variant (shuffled or broadcast; AQE skew-split applies), with the
    // exact levenshtein verify as a plain filter ABOVE it
    val p = plan(SparkEntry.queries("q_fuzzy_join")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashJoin"), p.take(3000))
    assert(p.contains("levenshtein"), "exact verify missing:\n" + p.take(3000))
  }

  test("collocations: broadcast count join-backs, bounded top-K heap") {
    // the unigram tables are vocab-sized and must ride broadcast legs;
    // the final top-K must be TakeOrderedAndProject (bounded heaps),
    // never a global sort of the pair table
    val df = SparkEntry.queries("text_collocations")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-K fell back to a global sort:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("phrase topics: broadcast phrase probe, WindowGroupLimit rank tail") {
    val df = SparkEntry.queries("text_phrase_topics")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("WindowGroupLimit"),
      "per-cluster top-k retains the full sort:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("anomalous hours: type-stats broadcast back onto the hourly agg, flag is a scan predicate") {
    val df = SparkEntry.queries("ev_anomaly")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      "stats join-back shuffles the hourly table:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("group quantile: bracket join-backs stay hash equi-joins, no GLOBAL sort") {
    // the whole point of the bracket pass is that the final rank select
    // sorts only bracket-window rows PER GROUP (a partition-local sort
    // under the row_number window). A global sort — `Sort [...], true`
    // in the physical plan — would mean the operator degenerated to
    // sort-the-world, which cannot survive 100 TB. The join-backs must
    // stay equi hash joins (broadcast or shuffled; never nested-loop).
    // (Gate the raw operator, not the SparkEntry row — the row appends
    // a presentation orderBy over the group-count-sized OUTPUT, which
    // is a legitimate global sort of a tiny result.)
    val df = graft.operators.Sketch.groupQuantile(
      graft.core.Tables.load(spark, dir, "orders"),
      Seq("o_orderstatus"), "o_totalprice", 0.5)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("HashJoin"), "bracket join-back lost its equi keys:\n" + p.take(3000))
    val globalSorts = p.linesIterator.filter(l =>
      l.contains("Sort [") && l.contains("], true")).toList
    assert(globalSorts.isEmpty, "global sort in the plan:\n" + globalSorts.mkString("\n"))
  }

  test("r12 join/graph/search family: equi-join shapes, no cartesian") {
    // interval-overlap, triangles, assoc rules, transitions, phrase
    // search: every one is a bucketed/keyed EQUI-join pipeline by
    // construction — a CartesianProduct or nested-loop join in any of
    // them means the rewrite regressed to the O(L·R) plan it exists to
    // avoid. (q_assoc_rules legitimately crosses with a ONE-ROW
    // broadcast scalar — count of orders — which plans as
    // BroadcastNestedLoopJoin over a single row; only the cartesian
    // check applies there.)
    for (n <- Seq("ev_overlap_join", "graph_triangles", "ev_transitions",
        "text_phrase_search")) {
      val p = plan(SparkEntry.queries(n)(spark, dir))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n:\n${p.take(2000)}")
    }
    val pa = plan(SparkEntry.queries("q_assoc_rules")(spark, dir))
    assert(!pa.contains("CartesianProduct"), pa.take(2000))
    // weighted sampling: bounded per-partition heaps + driver merge,
    // never sort-the-corpus
    val ws = plan(graft.operators.Curation.prioritySample(
      graft.core.Tables.load(spark, dir, "documents"), 50))
    assert(ws.contains("TakeOrderedAndProject"), ws.take(2000))
    // winsorize: the group-sized clamp-bound tables broadcast back
    // onto the corpus; a shuffled bound join would re-exchange the
    // corpus twice for two tiny tables
    val wn = plan(SparkEntry.queries("text_quality_norm")(spark, dir))
    assert(wn.contains("BroadcastHashJoin") && !wn.contains("CartesianProduct"),
      wn.take(2000))
    val sc = plan(SparkEntry.queries("text_split_clustered")(spark, dir))
    assert(!sc.contains("CartesianProduct"), sc.take(2000))
    // trending: the rank<=2 filter must push into the window as
    // WindowGroupLimit (bounded per-hour heaps before the exchange),
    // not rank-everything-then-filter
    val tr = plan(SparkEntry.queries("ev_trending")(spark, dir))
    assert(tr.contains("WindowGroupLimit"), tr.take(2000))
  }

  test("q_assoc_rules: one corpus shuffle chain, reused exchanges, broadcast-only joins") {
    // The r13 single-shuffle rewrite (VERDICT r12 #4): the pair stream
    // must flow scan -> basket collect_set shuffle -> in-row pair
    // explode -> one (a,b) agg exchange — never a corpus self-join —
    // and the basket exchange + item-count broadcast must each
    // materialize ONCE (runtime ReuseExchange; renaming before the
    // broadcast silently defeats it, which is what this pins).
    val df = SparkEntry.queries("q_assoc_rules")(spark, dir)
    df.collect() // final adaptive plan carries the reuse info
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      "assoc rules regressed to a shuffled/cartesian join:\n" + p.take(3000))
    assert(p.contains("ReusedExchange"),
      "no exchange reuse — basket/count subplans diverged:\n" + p.take(3000))
    // final-plan scans: basket chain + the order-count chain only
    assert(p.split("isFinalPlan=true")(1).split("== Initial Plan ==").head
      .linesIterator.count(_.contains("FileScan parquet")) <= 2,
      "lineitem scanned more than twice in the final plan:\n" + p.take(3000))
  }

  test("skew profile + salted join: top-k heap, equi-join with salt, no cartesian") {
    // the profile's top-k is a TakeOrderedAndProject (per-partition
    // heaps), never a global sort of the key spectrum; its 1-row stats
    // table rides a broadcast
    val sp = plan(SparkEntry.queries("q_skew_profile")(spark, dir))
    assert(sp.contains("TakeOrderedAndProject"), sp.take(2000))
    assert(!sp.contains("CartesianProduct"), sp.take(2000))
    // the salted join must STAY an equi-join — salting rewrites the
    // key, it must never demote the join to a nested loop; the salt
    // column has to be a join key (it appears in the join condition)
    val sj = SparkEntry.queries("q_salted_join")(spark, dir)
    val pj = plan(sj)
    assert(!pj.contains("CartesianProduct"), pj.take(2000))
    assert(pj.contains("__graft_salt"), pj.take(2000))
  }

  test("joinAuto: profile picks broadcast / salted / plain, asserted on the plan") {
    // the r13 decision helper (VERDICT r12 #5): same API call, three
    // different physical strategies depending on what the profile and
    // the size estimate actually say — each pinned on the plan, not
    // just on the returned label.
    import org.apache.spark.sql.functions._
    val large = spark.range(0, 20000)
      .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("src"))
    val smallUniq = spark.range(0, 20000).select(col("id").as("sk"),
      (col("id") * 2).as("payload"))

    // 1. tiny dim under the threshold -> broadcast, no profile pass
    val (bj, bc) = graft.operators.Bucketing.joinAuto(
      large, smallUniq.limit(100), "k", "sk", "src")
    assert(bc.strategy == "broadcast" && bc.hotKeys.isEmpty, bc.toString)
    val bp = plan(bj)
    assert(bp.contains("BroadcastHashJoin") && !bp.contains("__graft_salt"),
      bp.take(2000))

    // 2. broadcast ruled out + 90% of rows on key 0 -> salted; the
    //    salt column must be a join key and replication bounded by the
    //    profiled skew (90% of 20k rows over ~2k keys => skew huge,
    //    nSalts capped)
    val (sj2, sc) = graft.operators.Bucketing.joinAuto(
      large, smallUniq, "k", "sk", "src", broadcastBytes = 0L)
    assert(sc.strategy == "salted" && sc.hotKeys.contains(0L) &&
      sc.nSalts >= 2, sc.toString)
    val sp2 = plan(sj2)
    assert(sp2.contains("__graft_salt") && !sp2.contains("CartesianProduct"),
      sp2.take(2000))

    // 3. broadcast ruled out + uniform key -> plain equi-join: no salt
    //    machinery, no nested loop
    val uniform = spark.range(0, 20000)
      .select((col("id") % 1000).as("k"), col("id").as("src"))
    val (pjj, pc) = graft.operators.Bucketing.joinAuto(
      uniform, smallUniq, "k", "sk", "src", broadcastBytes = 0L)
    assert(pc.strategy == "plain" && pc.hotKeys.isEmpty, pc.toString)
    val pp = plan(pjj)
    assert(!pp.contains("__graft_salt") && !pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"), pp.take(2000))

    // value identity: the salted result == the plain join, row for row
    val plainRows = large.join(smallUniq, col("k") === col("sk"))
      .groupBy("k").count().orderBy("k").collect()
    val saltRows = sj2.groupBy("k").count().orderBy("k").collect()
    assert(plainRows.sameElements(saltRows))
  }

  test("posting index via PLAIN SQL: tok predicate becomes static tb partition pruning (VERDICT r13 #7)") {
    // a SQL user never computes crc32 buckets — the TermBucketPruning
    // rule must derive tb IN (...) from the tok conjunct so the scan
    // lists only the terms' bucket dirs, same economics as the facade
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val idx = Files.createTempDirectory("graft-postings-sql").toString + "/i"
    graft.operators.PostingIndex.create(docs, idx)
    graft.operators.PostingIndex.registerSqlTable(spark, idx, "graft_postings_sql")
    val df = spark.sql(
      "SELECT doc_id, pos FROM graft_postings_sql WHERE tok IN ('order', 'fast')")
    val p = plan(df)
    assert(p.linesIterator.find(_.contains("PartitionFilters"))
        .exists(l => l.contains("tb") && l.contains("IN")),
      "plain SQL tok IN did not prune tb partitions:\n" + p.take(3000))
    // value identity vs the unregistered (row-filter-only) read
    val want = graft.operators.PostingIndex.scan(spark, idx)
      .where(col("tok").isin("order", "fast"))
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // equality form prunes too; an OR that cannot pin tok must NOT
    assert(plan(spark.sql(
        "SELECT count(*) AS n FROM graft_postings_sql WHERE tok = 'order'"))
      .linesIterator.find(_.contains("PartitionFilters"))
      .exists(l => l.contains("tb")))
    val orPlan = plan(spark.sql(
      "SELECT count(*) AS n FROM graft_postings_sql WHERE tok = 'order' OR pos = 3"))
    assert(!orPlan.linesIterator.find(_.contains("PartitionFilters"))
      .exists(l => l.contains("tb IN")), orPlan.take(2000))
    // a tok-pinning OR prunes to the UNION of buckets (VERDICT r14 #6),
    // including a disjunct that pins tok inside its own conjunction —
    // and stays value-identical to the row-filter-only read
    val orTok = spark.sql("SELECT doc_id, pos FROM graft_postings_sql " +
      "WHERE (tok = 'order' AND pos < 30) OR tok = 'fast'")
    assert(plan(orTok).linesIterator.find(_.contains("PartitionFilters"))
        .exists(l => l.contains("tb") && l.contains("IN")),
      "tok-pinning OR did not prune tb partitions:\n" + plan(orTok).take(3000))
    val orWant = graft.operators.PostingIndex.scan(spark, idx)
      .where((col("tok") === "order" && col("pos") < 30) || col("tok") === "fast")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val orGot = orTok.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(orGot == orWant && orGot.nonEmpty)
  }

  test("phrase search: ONE tokenize pass, no per-term join legs (VERDICT r13 #6)") {
    // the old tail built one filtered token stream per phrase slot and
    // reduced over (doc, base) equi-joins: an L-term phrase paid L
    // corpus tokenize/scan passes (exchange reuse cannot dedup legs
    // that differ by filter). The slot-alignment shape pays exactly one
    // Generate (posexplode) over exactly one corpus scan and zero joins.
    val df = SparkEntry.queries("text_phrase_search")(spark, dir)
    val p = df.queryExecution.sparkPlan // pre-AQE: full tree, no stages
    def nodes(n: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      n +: n.children.flatMap(nodes)
    val all = nodes(p)
    val scans = all.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val gens = all.count(_.nodeName.contains("Generate"))
    val joins = all.count(_.nodeName.toLowerCase.contains("join"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n${p.toString.take(2000)}")
    assert(gens <= 2, s"expected one tokenize posexplode + one slot explode, got $gens")
    assert(joins == 0, s"phrase alignment must not join, got $joins:\n${p.toString.take(2000)}")
    // executes clean (no hits at sf0.001 — overlapping-occurrence
    // semantics are value-gated in OperatorSpec and the oracle row)
    df.collect()
  }

  test("posting-index probe: STATIC tb partition pruning, corpus never scanned") {
    // the phrase resolves to a tb IN-list on the DRIVER (crc32 of each
    // term), so the index scan must carry it as PartitionFilters —
    // planned pruning, not a runtime filter — and read at most
    // |distinct terms| of the 64 bucket directories. A missing
    // partition filter here means the probe reads the whole index,
    // which at corpus scale is the difference between ms and minutes.
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val idx = Files.createTempDirectory("graft-postings-plan").toString + "/i"
    graft.operators.PostingIndex.create(docs, idx)
    // a phrase with hits at this SF — zero hits would let AQE collapse
    // the final plan to EmptyRelation and hide the scan being gated
    val df = graft.operators.Search.phraseMatchIndexed(
      spark, idx, Seq("order", "fast"))
    assert(df.collect().nonEmpty) // collect THIS df: its metrics below
    val p = plan(df)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(l => l.contains("tb") && l.contains("IN")),
      "no static tb partition filter on the index scan:\n" + p.take(3000))
    val expected = Seq("order", "fast")
      .map(graft.operators.Search.termBucket(_, 64)).distinct.size
    // the executed scans' partitions-read metric: each index scan must
    // touch at most |distinct term buckets| directories (inputFiles
    // can't be used here — it lists the relation pre-pruning)
    // collect() won't cross AQE stage boundaries — walk them manually
    def allNodes(n: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        n +: allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        n +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, p.take(2000))
    for (s <- scans; m <- s.metrics.get("numPartitions"))
      assert(m.value <= expected,
        s"index scan read ${m.value} bucket dirs, phrase needs <= $expected")

    // an appended index must keep the identical pruning economics:
    // generations are more partition directories under the same
    // static tb filter, so a G-generation index reads
    // at most G x |distinct term buckets| leaf dirs — an append can
    // never change the probe's plan shape, only its directory count
    val vidx = Files.createTempDirectory("graft-postings-vplan").toString + "/i"
    graft.operators.PostingIndex.create(
      docs.where(col("doc_id") % 2 === 0), vidx)
    graft.operators.PostingIndex.append(
      docs.where(col("doc_id") % 2 === 1), vidx)
    val vdf = graft.operators.Search.phraseMatchIndexed(
      spark, vidx, Seq("order", "fast"))
    assert(vdf.collect().nonEmpty)
    val vp = plan(vdf)
    assert(vp.linesIterator.find(_.contains("PartitionFilters"))
        .exists(l => l.contains("tb") && l.contains("IN")),
      "versioned probe lost the static tb filter:\n" + vp.take(3000))
    val vscans = allNodes(vdf.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(vscans.nonEmpty, vp.take(2000))
    for (s <- vscans; m <- s.metrics.get("numPartitions"))
      assert(m.value <= 2 * expected,
        s"versioned scan read ${m.value} leaf dirs, needs <= ${2 * expected}")
  }

  test("bpe: argmax is a bounded heap, pair counts partial-agg'd, tokenize join never cartesian") {
    // per-iteration shape that must hold at a 10M-word dictionary: the
    // pair-count sum partial-aggregates before its exchange (map-side
    // combine — the explode fans out ~word-length rows per word), and
    // the merge selection is a TakeOrderedAndProject (per-partition
    // heap, ONE row to the driver), never a global sort
    import org.apache.spark.sql.functions.{asc, desc}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val arg = graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.initState(graft.operators.Bpe.wordFreq(docs)))
      .orderBy(desc("n"), asc("a"), asc("b")).limit(1)
    val p1 = plan(arg)
    assert(p1.contains("TakeOrderedAndProject"),
      "merge argmax regressed to a global sort:\n" + p1.take(2000))
    assert("HashAggregate".r.findAllIn(p1).size >= 2,
      "pair-count sum lost its partial aggregation:\n" + p1.take(2000))
    // the tokenize join (corpus occurrences x merged dictionary) must
    // stay an equi join — broadcast at fixture scale, word-keyed
    // shuffle at web scale, never a nested loop
    val df = SparkEntry.queries("text_bpe_tokens")(spark, dir)
    df.collect()
    val p2 = plan(df)
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      "tokenize dictionary join regressed to a non-equi join:\n" + p2.take(3000))
  }
}
