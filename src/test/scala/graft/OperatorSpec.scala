package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{Dedup, Pca, TopK}
import graft.streaming.EventOps

/** Operator-level checks on the sf0.001 fixtures. */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Every (query, corpus) pair scored, the query side broadcast: the
    * pair-stream oracle of the per-query rankers. queries (qid, qvec),
    * corpus (cid, cvec) -> (qid, cid, sim). */
  private def scoreAllPairs(queries: org.apache.spark.sql.DataFrame,
                            corpus: org.apache.spark.sql.DataFrame) =
    corpus.select(col("cid"), col("cvec"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))))
      .withColumn("sim", graft.functions.GraftFunctions.cosine(col("cvec"), col("qvec")))
      .select("qid", "cid", "sim")

  test("heap aggregator top-k == window top-k (SURVEY §7 heap vs window)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.where(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val scored = scoreAllPairs(queries, corpus)
    val viaWindow = TopK.perQueryTopKWindow(scored, 7)
      .select(col("qid"), col("rank").cast("long"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaHeap = TopK.perQueryTopKHeap(scored, 7)
      .select(col("qid"), col("rank"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaHeap == viaWindow)
    assert(viaHeap.size == 5 * 7)
  }

  test("ivfJoin == its retired window-probe formulation on the sf0.001 fixture: nprobe 1, 2, 4") {
    import graft.functions.GraftFunctions
    import graft.operators.SimilaritySearch
    import VectorStoreSpec.windowProbe
    val emb = Tables.load(spark, dir, "embeddings")
    val codebook = SimilaritySearch.collectCodebook(emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.where(col("vec_id") >= 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rank").cast("long"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    for (np <- Seq(1, 2, 4); k <- Seq(1, 5)) {
      val probed = windowProbe(queries, codebook, np).select("qid", "qv", "lid")
      val retired = TopK.perQueryTopKWindow(
        corpus.withColumn("lid", SimilaritySearch.nearestCentroid(col("cvec"), codebook))
          .join(broadcast(probed), "lid")
          .select(col("qid"), col("cid"), GraftFunctions.cosine(col("cvec"), col("qv")).as("sim")), k)
      val got = rowsOf(SimilaritySearch.ivfJoin(queries, corpus, codebook, np, k))
      assert(got.length == 8 * k && got == rowsOf(retired), s"nprobe $np, k $k")
    }
  }

  test("bandedKeys replaces input band/key columns instead of duplicating them") {
    import graft.operators.SimilaritySearch
    import spark.implicits._
    val d = 4; val bands = 2; val rows = 3
    val in = Seq((1L, Seq(1f, -2f, 0.5f, 3f)), (2L, Seq(-1f, 0f, 2f, -0.5f)))
      .toDF("id", "vec")
    val stale = in.withColumn("band", lit(-7)).withColumn("key", lit("old"))
    val out = SimilaritySearch.bandedKeys(stale, "vec", d, bands, rows)
    assert(out.columns.count(_ == "band") == 1 && out.columns.count(_ == "key") == 1,
      out.columns.mkString(","))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "band", "key").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(rowsOf(out) == rowsOf(SimilaritySearch.bandedKeys(in, "vec", d, bands, rows)))
    assert(rowsOf(out).size == 2 * bands)
  }

  test("minhash-LSH near-dups match exact jaccard near-dups on fixtures") {
    val docs = Tables.load(spark, dir, "documents")
    val lsh = Dedup.minhashNearDups(docs).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactNearDups(docs).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are a superset-filtered subset: after verification
    // both sides apply the same threshold, so recall gaps show here.
    assert(lsh == exact, s"LSH recall gap: missing ${exact -- lsh}, extra ${lsh -- exact}")
    assert(exact.nonEmpty, "fixtures should contain planted near-dups")
  }

  test("exact-collapse minhash pipeline == uncollapsed pipeline, incl. j values") {
    // replicate the fixture docs 3x with shifted ids (the ScaleUp shape
    // that put the uncollapsed pipeline at 353 s on sf1): every doc
    // becomes a 3-clique of exact dups, multi-member groups exercise
    // both the within-group and cross-group expansions
    val base = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val off = base.agg(max("doc_id")).head().getLong(0) + 1L
    val docs = base
      .withColumn("r", explode(sequence(lit(0L), lit(2L))))
      .select((col("doc_id") + col("r") * off).as("doc_id"), col("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = pairs(Dedup.minhashNearDups(docs))
    val direct = pairs(Dedup.minhashNearDupsDirect(docs))
    assert(collapsed == direct,
      s"collapse changed the pair set: missing ${direct -- collapsed}," +
        s" extra ${collapsed -- direct}")
    // the replication itself must have created within-group (j = 1.0)
    // pairs, or this test exercises nothing
    assert(collapsed.exists(_._3 == 1.0), "no exact-dup pairs produced")
    assert(collapsed.exists(_._3 < 1.0), "no cross-group near-dup pairs produced")
  }

  test("exact dedup groups by content hash") {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    val groups = Dedup.exact(docs)
    assert(groups.agg(sum("group_size")).head().getLong(0) == n)
  }

  test("pca projection: k dims and decreasing component variance") {
    val emb = Tables.load(spark, dir, "embeddings")
    val model = Pca.fit(emb, "embedding", 4)
    assert(model.d == 64 && model.k == 4)
    val proj = Pca.projector(spark, model)
    val projected = emb.select(proj(col("embedding")).as("p"))
    val vars = (0 until 4).map { j =>
      projected.select(variance(element_at(col("p"), j + 1))).head().getDouble(0)
    }
    assert(vars == vars.sorted.reverse, s"variances not descending: $vars")
    // projecting a single vector driver-side matches the distributed path
    val v = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val one = Pca.projectOne(model, v)
    assert(one.length == 4)
  }

  test("late-data hourly stream: closed-window lates dropped, open-window lates counted, only finalized windows emitted") {
    // the stream's sink must equal the batch rollup of EXACTLY hours
    // [L-6h, L-2h]: anything else means a watermark behavior broke
    // (see runHourlyLateStream's construction)
    val work = java.nio.file.Files.createTempDirectory("graft-ev-late-spec").toString
    val got = graft.streaming.EventOps.runHourlyLateStream(spark, dir, work)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val hourNs = 3600L * 1000000000L
    val ev = Tables.events(spark, dir)
    val lHour = ev.agg(max(expr(s"ts_ns div $hourNs"))).head().getLong(0) * 3600L
    val expected = EventOps.hourlyRollup(
      ev.where(expr(s"(ts_ns div $hourNs) * 3600").between(lHour - 6 * 3600, lHour - 2 * 3600)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, s"stream ${got.size} rows vs expected ${expected.size}")
    assert(got.nonEmpty)
    // the held-back (late-but-open-window) rows ARE in the counts:
    // hour L-2h totals must match the full fixture for that hour
    val q = lHour - 2 * 3600
    assert(got.filter(_._1 == q).map(_._3).sum ==
      ev.where(expr(s"(ts_ns div $hourNs) * 3600") === q).count())
  }

  test("late-data stream construction rejects an hour-aligned maxTs fixture") {
    // ADVICE r10 #4: if maxTs sits exactly ON an hour boundary the
    // drain-2 watermark equals a window end and finalization hinges on
    // Spark's >=/> comparison, which the closed-form oracle doesn't
    // model — the construction must fail loudly, not hash-flake
    import spark.implicits._
    val hourNs = 3600L * 1000000000L
    val tmp = java.nio.file.Files.createTempDirectory("graft-ev-aligned").toString
    Seq(
      (1L, 1L, "click", 1.0, 6 * hourNs + hourNs / 2), // on-time, hour L-1
      (2L, 2L, "click", 1.0, 3 * hourNs + 7L),         // mid-range filler
      (3L, 3L, "click", 1.0, 7 * hourNs)                // maxTs EXACTLY hour-aligned
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$tmp/events.parquet")
    val work = java.nio.file.Files.createTempDirectory("graft-ev-aligned-wk").toString
    val e = intercept[IllegalArgumentException](
      graft.streaming.EventOps.runHourlyLateStream(spark, tmp, work))
    assert(e.getMessage.contains("hour boundary"), e.getMessage)
  }

  test("streaming hourly rollup equals batch rollup (availableNow drain)") {
    val batch = EventOps.hourlyRollup(Tables.events(spark, dir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val stream = EventOps.runHourlyStream(spark, dir, "graft_hourly_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stream == batch)
  }

  test("streaming sliding rollup equals batch sliding rollup; 4 windows per event") {
    val batchDf = EventOps.slidingRollup(Tables.events(spark, dir))
    val batch = batchDf
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val stream = EventOps.runSlidingStream(spark, dir, "graft_sliding_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stream == batch)
    // replication invariant: total n across windows = 4x the events
    assert(batch.toSeq.map(_._3).sum == 4L * Tables.events(spark, dir).count())
  }

  test("k-means IVF: nprobe=4 of 8 clusters recalls most of brute-force top-10") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, dir, "embeddings")
    val codebook = SimilaritySearch.collectCodebook(SimilaritySearch.kmeansCentroids(emb, k = 8))
    val (qv, corpus) = SimilaritySearch.queryById(emb, 3L)
    val ivf = SimilaritySearch.ivfSearchVec(corpus, codebook, qv, nprobe = 4, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = SparkEntry.queries("knn_topk")(spark, dir) // qid 0; redo for qid 3
    val q = emb.where(col("vec_id") === 3).select(col("embedding").as("qv"))
    val exact = emb.where(col("vec_id") =!= 3).crossJoin(broadcast(q))
      .withColumn("sim", graft.functions.GraftFunctions.cosine(col("embedding"), col("qv")))
      .orderBy(desc("sim"), asc("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall (ivf=$ivf, exact=$exact)")
  }

  test("stateful streaming sessionizer emits batch sessions minus each user's open tail") {
    import spark.implicits._
    val batch = EventOps.sessionize(Tables.events(spark, dir))
      .select("user_id", "session_idx", "n_events", "dur_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batch.filterNot { case (u, s, _, _) => lastPerUser(u) == s }
    val streamed = EventOps.sessionizeStream(spark, dir, "graft_sessions_test")
      .select("user_id", "session_idx", "n_events", "dur_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == expected)
  }

  test("stream-stream interval join equals batch interval join") {
    val batch = EventOps.errorClickJoin(Tables.events(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = EventOps.errorClickJoinStream(spark, dir, "graft_err_click_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty, "fixtures should contain error-after-click pairs")
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) collapses redelivered files") {
    // simulate at-least-once delivery: the same events file arrives twice
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    java.nio.file.Files.copy(src, tmp.resolve("delivery_a.parquet"))
    java.nio.file.Files.copy(src, tmp.resolve("delivery_b.parquet"))
    val deduped = EventOps.dedupStream(spark, tmp.toString, "graft_dedup_test")
    val n = deduped.count()
    val distinctIds = deduped.select("event_id").distinct().count()
    val batchN = Tables.events(spark, dir).count()
    assert(n == batchN, s"expected $batchN deduped events, got $n")
    assert(distinctIds == batchN)
  }

  test("connected components turns pairs into dedup groups (hash-to-min fixpoint)") {
    import spark.implicits._
    // a 4-chain (diameter 3 — exercises the iteration) and a separate pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val viaUnionFind = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUnionFind == expected)
    // the distributed fixpoint (the 100 TB path) agrees
    val viaFixpoint = Dedup.componentsDistributed(pairs, maxIter = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFixpoint == expected)
  }

  test("large-star/small-star components solve deep chains in O(log n) rounds") {
    import spark.implicits._
    // a 60-node chain (diameter 59): hash-to-min would need 59 rounds;
    // the alternating algorithm converges logarithmically — maxIter=15
    // asserts that, not just correctness
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("d1", "d2")
    val stars = Dedup.componentsStars(chain, maxIter = 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars.size == 60 && stars.values.forall(_ == 0L), s"bad components: $stars")
    val unionFind = Dedup.components(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == unionFind)
  }

  test("star components agree with union-find on a seeded random graph") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(p => p._1 != p._2).distinct
    val pdf = pairs.toDF("d1", "d2")
    val stars = Dedup.componentsStars(pdf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unionFind = Dedup.components(pdf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == unionFind)
  }

  test("distributed star path on the REAL near-dup graph matches driver union-find") {
    // the bench's dedup_clusters short-circuits to driver union-find at
    // fixture scale; this pins the distributed path (the one that runs
    // at 100 TB) to the same answer on the same real pair graph
    val pairs = Dedup.minhashNearDups(Tables.load(spark, dir, "documents"))
      .select("d1", "d2")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = toMap(Dedup.components(pairs, broadcastThreshold = 0L))
    val viaLocal = toMap(Dedup.components(pairs))
    assert(viaStars == viaLocal && viaLocal.nonEmpty)
  }

  test("curation pipeline: canonical copies only, all filters honored") {
    import graft.operators.Curation
    val docs = Tables.load(spark, dir, "documents")
    val kept = Curation.curate(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(kept.nonEmpty)
    assert(kept.forall(_._2 == "en"))
    assert(kept.forall(_._3 >= 0.5))
    // no two surviving docs are near-dups of each other
    val keptIds = kept.map(_._1).toSet
    val pairs = Dedup.minhashNearDups(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = pairs.filter(p => keptIds(p._1) && keptIds(p._2))
    assert(survivors.isEmpty, s"near-dup pairs survived curation: ${survivors.toSeq}")
    // lang=null relaxes the language predicate (the quality score's
    // English-stopword term still dominates at this SF, so assert the
    // superset relation, not multi-language survival)
    val anyLang = Curation.curate(docs, lang = null, minQuality = 0.3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(anyLang.map(_._1).size >= keptIds.size)
    assert(anyLang.map(_._2).size > 1, s"expected >1 language at quality 0.3: $anyLang")
  }

  test("matryoshka prefix retrieval: full-width prefix == exact; all-refine == exact") {
    import graft.functions.GraftFunctions
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val corpus = emb.where(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getLong(1)).toSeq
    val exact = ids(TopK.topKRanked(
      corpus.withColumn("sim",
        GraftFunctions.cosine(col("embedding"), GraftFunctions.vecLit(q))),
      10, Seq(desc("sim"), asc("vec_id"))).select(col("rank"), col("vec_id")))
    // prefix = full width => the coarse ranking IS the exact ranking
    assert(ids(SimilaritySearch.matryoshkaTopK(corpus, q, dims = q.length,
      k = 10, refineK = 10)) == exact)
    // narrow prefix with refineK = |corpus| => the refine stage restores exactness
    val n = corpus.count().toInt
    assert(ids(SimilaritySearch.matryoshkaTopK(corpus, q, dims = 16,
      k = 10, refineK = n)) == exact)
    // the PHYSICAL-prefix-column index path returns the identical
    // result at every config (the stored prefix IS the slice) — this
    // is what keeps the ann_matryoshka oracle row valid after the
    // coarse scan stopped reading the embedding column (r9 #1)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-mat-idx").toString + "/idx"
    SimilaritySearch.buildPrefixIndex(emb, dims = 16, idxPath)
    assert(ids(SimilaritySearch.matryoshkaIndexTopK(spark, idxPath, q,
      dims = 16, k = 10, refineK = 50, excludeId = Some(0L)))
      == ids(SimilaritySearch.matryoshkaTopK(corpus, q, dims = 16, k = 10, refineK = 50)))
    // dims mismatch against the stored width fails loudly
    val e = intercept[IllegalArgumentException](
      SimilaritySearch.matryoshkaIndexTopK(spark, idxPath, q, dims = 8))
    assert(e.getMessage.contains("graft"), e.getMessage)
    // ADVICE r10 #1: an ALL-null corpus must fail loudly, not slip
    // through the empty-corpus escape hatch into a null-prefix index
    val nullPath = java.nio.file.Files
      .createTempDirectory("graft-mat-null").toString + "/idx"
    val allNull = emb.select(col("vec_id"),
      lit(null).cast("array<float>").as("embedding"))
    val eNull = intercept[IllegalArgumentException](
      SimilaritySearch.buildPrefixIndex(allNull, dims = 16, nullPath))
    assert(eNull.getMessage.contains("null embeddings"), eNull.getMessage)
    // ADVICE r10 #3: an EMPTY index is an empty result, not a
    // "0-dim prefix" require failure
    val emptyPath = java.nio.file.Files
      .createTempDirectory("graft-mat-empty").toString + "/idx"
    SimilaritySearch.buildPrefixIndex(emb.where(lit(false)), dims = 16, emptyPath)
    val emptyRes = SimilaritySearch.matryoshkaIndexTopK(spark, emptyPath, q,
      dims = 16, k = 10, refineK = 50)
    assert(emptyRes.collect().isEmpty)
    assert(emptyRes.columns.toSeq == Seq("rank", "vec_id"))
  }

  test("duplicate-span removal drops exactly the covered tokens, both directions") {
    import spark.implicits._
    val shared = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"beta gamma $shared"),
      (3L, "unrelated words here completely"),
      (4L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((10L, 8L, "alpha omega")), out(1L).toString)
    assert(out(2L) == ((10L, 8L, "beta gamma")), out(2L).toString)
    assert(out(3L) == ((4L, 0L, "unrelated words here completely")))
    assert(out(4L) == ((2L, 0L, "short doc")), "sub-n docs pass through")
  }

  test("Gopher rules: each rule rejects independently; verdict composes") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the quick brown fox jumps over lazy dogs near rivers daily"),
      (2L, "a b"),                             // word-count floor
      (3L, "1 2 3 4 5 6"),                     // no alphabetic words
      (4L, ("supercalifragilistic " * 6).trim) // mean word length too long
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, minWords = 5, minStopHits = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("passes") == 1)
    assert(out(2L).getAs[Int]("passes") == 0)
    assert(out(3L).getAs[Int]("passes") == 0 && out(3L).getAs[Long]("alpha_pm") == 0L)
    assert(out(4L).getAs[Int]("passes") == 0 && out(4L).getAs[Long]("mean_wlen_c") > 1000L)
  }

  test("DSIR selection ranks on-domain docs first, length-normalized, featureless dropped") {
    import spark.implicits._
    import graft.operators.Curation
    val target = Seq(
      (0L, "alpha beta alpha beta alpha beta"),
      (1L, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta alpha beta"),             // fully on-domain
      (11L, "alpha beta zulu xray zulu xray"),    // mixed
      (12L, "zulu xray yankee zulu xray yankee"), // off-domain
      (13L, "single")                             // < 2 tokens: no features
    ).toDF("doc_id", "text")
    val out = Curation.dsirSelect(corpus, target, buckets = 256, k = 10).collect()
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids.head == 10L, s"on-domain doc should rank first: $ids")
    assert(!ids.contains(13L), "featureless doc must not surface")
    val scores = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores(10L) > scores(11L) && scores(11L) > scores(12L),
      s"scores not monotone with on-domain fraction: $scores")
    // k truncates deterministically (score desc, id asc)
    val top2 = Curation.dsirSelect(corpus, target, buckets = 256, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == ids.take(2))
  }

  test("chunking covers every token exactly; no chunk is a subset of its predecessor") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // doc lengths straddling the boundary cases: < window, == window,
    // the old duplicate-tail regime ((n-1) mod step < overlap), and long
    val docs = Seq(10, 50, 64, 65, 97, 100, 112, 113, 200, 500).zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(j => s"w$j").mkString(" ")) }
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docs, chunkTokens = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(" ").toVector))
    for ((docId, byDoc) <- chunks.groupBy(_._1)) {
      val ordered = byDoc.sortBy(_._2).map(_._3)
      val n = docs.where(col("doc_id") === docId).head().getString(1).split(" ").length
      // full coverage, in order, each successive chunk adds new tokens
      assert(ordered.head.head == "w1" && ordered.last.last == s"w$n",
        s"doc $docId: coverage gap")
      for (pair <- ordered.sliding(2) if pair.length == 2) {
        val (prev, cur) = (pair(0), pair(1))
        assert(!prev.containsSlice(cur),
          s"doc $docId: chunk is a subset of its predecessor")
        assert(prev.takeRight(16) == cur.take(16) || cur.last == s"w$n",
          s"doc $docId: overlap broken")
      }
    }
  }

  test("quality/langid filtering runs unchanged on a document STREAM (stateless projection)") {
    // the per-document leg of curation is streaming-safe by
    // construction (pure functions._ projections, no state); near-dup
    // canonicalization stays a periodic batch compaction by nature
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, dir, "documents")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .where(col("quality") >= 0.5 && col("pred_lang") === "en")
      .select("doc_id", "pred_lang", "quality")
    val expected = shape(TextAnalysis.stats(docs)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "documents.parquet"), tmp.resolve("d.parquet"))
    val q = shape(TextAnalysis.stats(
        spark.readStream.schema(docs.schema).parquet(tmp.toString)))
      .writeStream.format("memory").queryName("graft_quality_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("graft_quality_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("decontamination flags every near-dup of a benchmark doc") {
    import graft.operators.Curation
    val docs = Tables.load(spark, dir, "documents")
    val flagged = Curation.decontaminate(
      docs.where(col("doc_id") >= 5), docs.where(col("doc_id") < 5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a jaccard near-dup (>= 70% shared shingles) of a benchmark doc is
    // contamination by any standard; pairs are emitted d1 < d2 so the
    // benchmark side (ids 0-4) is always d1
    val expected = Dedup.exactNearDups(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, b) if a < 5 && b >= 5 => b }.toSet
    assert(expected.subsetOf(flagged),
      s"missed contamination: ${expected -- flagged}")
  }

  test("token-budget selection is a per-language prefix within budget") {
    import graft.operators.Curation
    val docs = Tables.load(spark, dir, "documents")
    val sel = Curation.tokenBudget(docs, budgetPerLang = 2000L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sel.nonEmpty)
    assert(sel.forall(_._3 <= 2000L))
    // per language: selected ids are exactly the first docs in id order
    val allByLang = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((langKey, rows) <- sel.groupBy(_._1)) {
      val ids = rows.map(_._2).sorted
      assert(allByLang(langKey).take(ids.length).sameElements(ids),
        s"$langKey selection is not a prefix")
    }
    // sharded form (the parallel 100 TB path): never exceeds the budget,
    // and fills a comparable share of it on ample data
    val sharded = Curation.tokenBudgetSharded(docs, budgetPerLang = 2000L, shards = 4)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val perLang = sharded.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(perLang.nonEmpty)
    assert(perLang.values.forall(_ <= 2000L), s"shard budgets overflowed: $perLang")
  }

  test("substring dedup flags exactly the docs sharing a cross-doc 8-gram") {
    val docs = Tables.load(spark, dir, "documents")
    val flagged = Dedup.substringDups(docs, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force expectation: replay the rolling-hash codes and count
    // cross-doc duplicated ones per doc in plain Scala
    val codes = Dedup.ngramCodes(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCode = codes.groupBy(_._2).filter(_._2.length > 1).keySet
    val expected = codes.filter(c => byCode(c._2))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(flagged == expected)
    assert(flagged.nonEmpty, "fixtures should contain planted shared spans")
  }

  test("mixture sampling keeps the rarest language whole and others at sqrt rate") {
    import graft.operators.Curation
    val docs = Tables.load(spark, dir, "documents")
    val kept = Curation.mixtureSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keptIds = kept.map(_._1).toSet
    val totals = docs.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val cMin = totals.values.min
    val keptByLang = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // rarest language: every doc survives
    val rarest = totals.minBy(_._2)._1
    assert(keptByLang.getOrElse(rarest, 0L) == totals(rarest))
    // others: kept count within binomial noise of rate * total, and the
    // decision is the deterministic shared hash — replay it
    for ((langKey, total) <- totals) {
      val below = math.floor(math.sqrt(cMin.toDouble / total.toDouble)
        * OracleSql.ShardP.toDouble).toLong
      val expect = docs.where(col("lang") === langKey).select("doc_id")
        .collect().map(_.getLong(0))
        .filter(id => id % OracleSql.ShardP * OracleSql.ShardA % OracleSql.ShardP < below)
        .toSet
      assert(kept.filter(_._2 == langKey).map(_._1).toSet == expect,
        s"$langKey selection diverges from the shared hash rule")
    }
    assert(keptIds.nonEmpty && keptIds.size < totals.values.sum)
  }

  test("pii redaction counts and replaces emails, IPs, and phones") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b-c_d@ex-1.org and x@y.io now"),
      (2L, "host 10.0.255.3 dialed 555-010-0142 twice: 555 010 0142"),
      (3L, "no pii here"),
      (4L, "edge 999.999.999.999 and v1.2.3.4556 stay: one real 1.2.3.4")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.pii(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    assert(out(1L) == ((2, 0, 0, "mail [EMAIL] and [EMAIL] now")))
    assert(out(2L) == ((0, 1, 2, "host [IP] dialed [PHONE] twice: [PHONE]")))
    assert(out(3L) == ((0, 0, 0, "no pii here")))
    // 999.x still matches \d{1,3} (syntactic scrub, documented); the
    // 4556 run breaks \b...\d{1,3}\b so only the real quad matches
    assert(out(4L)._2 == 2 && out(4L)._4.contains("[IP]"))
  }

  test("component round parallelism is derived from edge count, not a constant") {
    // the 100x-scale fix for r2's hard-coded coalesce(4): a fixture graph
    // iterates at the floor, a billion-edge graph at ~1000 partitions
    assert(Dedup.roundPartitions(0L) == 4)
    assert(Dedup.roundPartitions(999999L) == 4)
    assert(Dedup.roundPartitions(300L, edgesPerPartition = 10L) == 30)
    assert(Dedup.roundPartitions(2000000000L) == 2000)
    assert(Dedup.roundPartitions(1000000001L) == 1001)
  }

  test("star components agree with union-find when rounds run at a derived width > the floor") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val pairs = Seq.fill(200)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter(p => p._1 != p._2).distinct
    val pdf = pairs.toDF("d1", "d2")
    // edgesPerPartition=8 forces ~25 round partitions on this graph —
    // the same plan a billion-edge input would get at the default
    val stars = Dedup.componentsStars(pdf, edgesPerPartition = 8L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unionFind = Dedup.components(pdf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == unionFind)
  }

  test("reliable-checkpoint mode: dedup pipelines match localCheckpoint results") {
    val docs = Tables.load(spark, dir, "documents")
    def run(): Set[(Long, Long)] =
      Dedup.components(Dedup.minhashNearDups(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLocal = run()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val viaReliable = run()
      assert(viaReliable == viaLocal)
      // the reliable path really wrote checkpoint data
      val wrote = java.nio.file.Files.walk(ckpt).count()
      assert(wrote > 1, "no checkpoint files written in reliable mode")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("simhash banding rejects a radius the signature width cannot block (fails loudly)") {
    import spark.implicits._
    val sig = Seq((1L, 5L), (2L, 6L)).toDF("doc_id", "simhash")
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(sig, maxHamming = 62) // 63 bands > 62 bits
    }
    assert(ex.getMessage.contains("band"))
  }

  test("banded simhash == all-pairs on random 62-bit signatures with planted near-pairs") {
    // pigeonhole exactness must hold for ANY signature population, not
    // just the fixtures: random signatures plus planted variants at
    // 0-4 bit flips (straddling the radius-3 boundary)
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val base = Seq.fill(300)(rng.nextLong() & ((1L << 62) - 1))
    val planted = base.take(60).map { s =>
      var x = s
      (0 until rng.nextInt(5)).foreach(_ => x ^= 1L << rng.nextInt(62))
      x
    }
    val sigs = (base ++ planted).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "simhash")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = toSet(Dedup.simhashPairs(sigs))
    val exact = toSet(Dedup.simhashPairsExact(sigs))
    assert(banded == exact, s"missing ${exact -- banded}, extra ${banded -- exact}")
    assert(exact.nonEmpty, "planted near-pairs should produce matches")
  }

  test("banded simhash pairs == all-pairs simhash (pigeonhole exactness)") {
    val docs = Tables.load(spark, dir, "documents")
    val sig = Dedup.simhash(Dedup.shingles(docs))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = toSet(Dedup.simhashPairs(sig))
    val exact = toSet(Dedup.simhashPairsExact(sig))
    assert(banded == exact, s"banded != exact: missing ${exact -- banded}, extra ${banded -- exact}")
  }

  test("banded embedding LSH near-dups: perfect precision, bounded recall vs exact") {
    // sf0.01: the fixture's 14 exact pairs all sit at cosine 0.45-0.51
    // (~60 deg) — the flat part of the sign-LSH s-curve, the worst case
    // for blocking. Planes and data are deterministic, so recall is a
    // fixed number; assert a floor under the measured 5/14. At a real
    // dedup operating point (cosine >= 0.9) the 4x4 catch probability
    // is 0.96.
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairs(Dedup.embeddingNearDupsLsh(emb))
    val exact = pairs(Dedup.embeddingNearDups(emb))
    assert(banded.subsetOf(exact), s"false positives: ${banded -- exact}")
    assert(banded.nonEmpty && exact.nonEmpty)
    assert(banded.size.toDouble / exact.size >= 0.3,
      s"recall ${banded.size}/${exact.size} below floor")
  }

  test("rank-block bucket cap: identical pair set when not engaged (organic fixture)") {
    // the cap must be a pure no-op below engagement — the oracle-pinned
    // dedup_embedding_lsh hash depends on it
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("v1", "v2", "sim_r").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = pairs(Dedup.embeddingNearDupsLsh(emb))
    val uncapped = pairs(Dedup.embeddingNearDupsLsh(emb, bucketCap = 1000000))
    assert(default == uncapped,
      s"cap engaged on organic data: missing ${uncapped -- default}, extra ${default -- uncapped}")
  }

  test("degenerate corpus: rank-blocked pairs stay linear and components stay connected (VERDICT r7 #3)") {
    import spark.implicits._
    // 500 copies of ONE vector — the boilerplate-shard shape that lands
    // every row in a single (band, key) bucket. Uncapped this is
    // C(500,2) = 124,750 pairs; rank-blocked at cap=8 it must be
    // sum_i min(8, n-i) = 8*492 + 28 = 3,964 — linear in n, and the
    // chain keeps the whole clique in ONE connected component.
    val n = 500
    val v = Array.tabulate(8)(i => (math.sin(i + 1) * 3).toFloat)
    val emb = (0 until n).map(i => (f"v$i%04d", v))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val pairs = Dedup.embeddingNearDupsLsh(emb, threshold = 0.9, d = 8, bucketCap = 8)
    val got = pairs.select("v1", "v2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.size == 8 * (n - 8) + 28, s"expected 3964 chained pairs, got ${got.size}")
    // every member pairs with its rank neighbors => chain => 1 component
    val comps = Dedup.componentsByKey(
      pairs.select(col("v1").as("id1"), col("v2").as("id2")))
    val labels = comps.select("component_id").distinct().collect()
    assert(labels.length == 1, s"chain broke into ${labels.length} components")
    assert(comps.count() == n)
    // and the overflow is observable, loudly, where eager consumers look
    assert(Dedup.bandedBucketOverflow(emb, d = 8, cap = 8) > 0)
    assert(Dedup.bandedBucketOverflow(emb, d = 8) == 0) // default cap: no engagement
  }

  test("duplicate vec_ids: no self-pairs, no duplicated pair rows (review r8)") {
    import spark.implicits._
    // two physical rows per id (a crashed-and-retried append) must not
    // produce (x, x) pairs, and the vector join-back must not re-expand
    // one logical pair into several identical rows
    val v1 = Array.tabulate(8)(i => (math.sin(i + 1) * 2).toFloat)
    val emb = Seq(("a", v1), ("a", v1), ("b", v1), ("b", v1))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val rows = Dedup.embeddingNearDupsLsh(emb, threshold = 0.9, d = 8)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("a", "b")), rows.mkString(","))
    val inc = Dedup.embeddingNearDupsLshAgainst(
      emb.where(col("vec_id") === "b"), emb, threshold = 0.9, d = 8)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(inc.toSeq == Seq(("a", "b")), inc.mkString(","))
  }

  test("incremental banded near-dups == full rebuild (pairsAgainst union, VERDICT r7 #2)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val old = emb.where(col("vec_id") < 150)
    val fresh = emb.where(col("vec_id") >= 150)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Dedup.embeddingNearDupsLsh(emb))
    val incremental = pairs(Dedup.embeddingNearDupsLsh(old)) ++
      pairs(Dedup.embeddingNearDupsLshAgainst(fresh, emb))
    assert(incremental == full,
      s"missing ${full -- incremental}, extra ${incremental -- full}")
  }

  test("multi-probe LSH search returns k rows with mean recall >= 0.5 vs brute force") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val qids = Seq(0L, 1L, 2L, 3L, 42L, 100L)
    val recalls = qids.map { qid =>
      val (qv, corpus) = SimilaritySearch.queryById(emb, qid)
      val lsh = SimilaritySearch.lshSearchVec(corpus, qv, k = 5, d = 64)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(lsh.size == 5, s"qid=$qid: expected 5 rows, got ${lsh.size} (thin buckets?)")
      val q = emb.where(col("vec_id") === qid).select(col("embedding").as("qv"))
      val brute = emb.where(col("vec_id") =!= qid).crossJoin(broadcast(q))
        .withColumn("sim", graft.functions.GraftFunctions.cosine(col("embedding"), col("qv")))
        .orderBy(desc("sim"), asc("vec_id")).limit(5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      lsh.intersect(brute).size.toDouble / brute.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean LSH recall too low: $mean (per-query $recalls)")
  }

  test("LSH similarity join drops a zero-vector corpus row; the other rows are unchanged") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.where(col("vec_id") >= 100)
    // the zero vector's band keys are all 0: some query must share one
    // for the zero row to become a candidate at all
    val colliding = SimilaritySearch.bandedKeys(queries, "qvec", 64,
      graft.OracleSql.EmbLshBands, graft.OracleSql.EmbLshRows).where(col("key") === 0L).count()
    assert(colliding > 0, "no query collides with the zero vector")
    def joined(c: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.lshJoin(queries,
          c.select(col("vec_id").as("cid"), col("embedding").as("cvec")), k = 5, d = 64)
        .select("qid", "rank", "cid").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    val got = joined(withZeroRow(corpus))
    assert(!got.exists(_._3 == -1L), got.filter(_._3 == -1L).toSeq.sortBy(_._1).take(5).mkString(","))
    assert(got == joined(corpus))
  }

  test("LSH similarity join: equi-join candidates only, bounded recall vs brute force") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.where(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val joined = SimilaritySearch.lshJoin(queries, corpus, k = 5, d = 64)
    // the candidate generation must be a hash equi-join on (band, key) —
    // a cross product would defeat the whole point
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "lshJoin planned a cross product:\n" + p.take(3000))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(joined)
    val brute = pairs(TopK.perQueryTopKWindow(scoreAllPairs(queries, corpus), 5))
    val recalls = (0L until 8L).map { q =>
      val b = brute.filter(_._1 == q).map(_._2)
      lsh.filter(_._1 == q).map(_._2).intersect(b).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    // deterministic planes + data => fixed number; measured 0.45 on the
    // near-uniform fixtures (sign-LSH's worst case — see the
    // dedup_embedding_lsh test note)
    assert(mean >= 0.3, s"lshJoin mean recall too low: $mean ($recalls)")
  }

  test("LSH join survives a degenerate corpus: corpus-side bucket truncation bounds candidates") {
    import graft.operators.SimilaritySearch
    import spark.implicits._
    // 9,000 near-identical corpus rows in ONE bucket per band — above
    // LshCandCap (8192), so the corpus side truncates per (band, key)
    // and each query's candidate fan-out is bounded by the cap instead
    // of the bucket width. Results stay a correct top-k over the
    // surviving candidates (all candidates here are equally similar).
    val v = Array.tabulate(8)(i => (math.cos(i + 1) * 2).toFloat)
    val corpus = (0 until 9000).map(i => (i.toLong, v))
      .toDF("cid", "cvec").withColumn("cvec", col("cvec").cast("array<float>"))
    val queries = Seq((0L, v)).toDF("qid", "qvec")
      .withColumn("qvec", col("qvec").cast("array<float>"))
    val top = SimilaritySearch.lshJoin(queries, corpus, k = 5, d = 8)
    val rows = top.collect()
    assert(rows.length == 5, s"expected 5 rows, got ${rows.length}")
    assert(rows.forall(_.getLong(0) == 0L))
  }

  test("model embedder (mapPartitions singleton) matches the hashing expression bit-for-bit") {
    import graft.functions.{HashingEmbedder, ModelEmbedder, ModelSession}
    val docs = Tables.load(spark, dir, "documents").limit(50)
    def collectEmb(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "e").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    val viaExpr = collectEmb(HashingEmbedder(64).embed(docs, "text", "e"))
    val viaModel = collectEmb(ModelEmbedder(64, batchSize = 7)
      .embed(docs.repartition(4), "text", "e"))
    assert(viaExpr == viaModel)
    // singleton: every partition (and the driver) sees the same instance
    val driverId = ModelSession.get(64).instanceId
    import spark.implicits._
    val partIds = docs.repartition(4).mapPartitions { _ =>
      Iterator.single(ModelSession.get(64).instanceId)
    }.collect().toSet
    assert(partIds == Set(driverId), s"expected one model instance, saw $partIds")
  }

  test("ONNX swap-in seam: a real model loads when GRAFT_ONNX_MODEL is set") {
    // pins the ModelEmbedder swap-in contract (VERDICT r3 next #9): with
    // GRAFT_ONNX_MODEL naming an .onnx file AND the onnxruntime jar on
    // the classpath, an OrtSession builds from that path — the model
    // object a real embedder would hold in ModelSession instead of
    // FakeModel. Skipped (canceled) in this container: no runtime jar,
    // no model file — the env var names the one seam to flip.
    val modelPath = sys.env.get("GRAFT_ONNX_MODEL")
    assume(modelPath.isDefined, "GRAFT_ONNX_MODEL not set (no ONNX runtime in this container)")
    val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
    val env = envCls.getMethod("getEnvironment").invoke(null)
    val session = envCls
      .getMethod("createSession", classOf[String])
      .invoke(env, modelPath.get)
    assert(session != null, "OrtSession did not build from GRAFT_ONNX_MODEL")
    // same lifecycle contract FakeModel honors: sessions are closeable
    // and live per-executor, never serialized
    session.getClass.getMethod("close").invoke(session)
  }

  test("bm25 ranks term-dense docs first; n_hit counts matched terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector vector vector store search"), // tf=3, short
      (2L, "vector search store"),               // tf=1, short
      (3L, "vector vector store search index merge lots of extra words here to lengthen"), // tf=2 but long
      (4L, "no relevant terms at all whatsoever"),
      (5L, "merge vector")                       // 2 distinct terms
    ).toDF("doc_id", "text")
    val top = graft.operators.Search
      .bm25TopK(docs, Seq("vector", "merge"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // doc 5 hits both terms; doc 4 hits none and scores 0
    assert(top.head._2 == 5L && top.head._3 == 2)
    assert(top.last._2 == 4L && top.last._3 == 0)
    // among single-term docs, higher tf at comparable length wins
    val pos = top.map(_._2).zipWithIndex.toMap
    assert(pos(1L) < pos(2L), s"tf=3 should beat tf=1: ${top.mkString(",")}")
  }

  test("rrf fusion sums exact integer points across legs") {
    import spark.implicits._
    val legA = Seq((10L, 1L), (20L, 2L)).toDF("id", "rank")
    val legB = Seq((20L, 1L), (30L, 2L)).toDF("id", "rank")
    val fused = graft.operators.Search.rrfFuse(Seq(legA, legB), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // id 20: 1000000/62 + 1000000/61 = 16129 + 16393 = 32522 (2 legs)
    assert(fused.head == (1L, 20L, 1000000L / 62 + 1000000L / 61, 2))
    // id 10: 1000000/61 = 16393; id 30: 1000000/62 = 16129
    assert(fused(1) == (2L, 10L, 1000000L / 61, 1))
    assert(fused(2) == (3L, 30L, 1000000L / 62, 1))
  }

  test("sharded prefix-sum packing == single-shard sequential packing") {
    val docs = Tables.load(spark, dir, "documents")
    def packed(span: Long) = graft.operators.Packing
      .packAssign(docs, seqLen = 128L, span = span)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // span 7 exercises many shards + driver offsets; span Long.MaxValue
    // degenerates to the trivially-correct single-shard window
    val sharded = packed(7L)
    val single = packed(Long.MaxValue)
    assert(sharded == single, s"diff: ${(sharded diff single).take(5)}")
    // packing preserves every token and doc exactly once
    val total = docs.select(sum(size(Dedup.tokens(col("text"))))).head().getLong(0)
    assert(sharded.toSeq.map(_._2).sum == total)
    assert(sharded.size == docs.count())
  }

  test("shard export: stats tile the corpus; written shards round-trip") {
    val docs = Tables.load(spark, dir, "documents")
    val stats = graft.operators.Packing.shardStats(docs, shards = 8)
    val rows = stats.collect()
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      graft.operators.Packing.writeShards(docs, out, shards = 8)
      val back = spark.read.parquet(out)
      assert(back.count() == docs.count())
      // per-shard counts from the files match the manifest
      val fileCounts = back.groupBy("shard").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val manifest = rows.map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(fileCounts == manifest)
      // partition pruning: a single-shard read scans only that directory
      val one = back.where(col("shard") === 3)
      val scan = one.queryExecution.executedPlan.toString
      assert(one.count() == manifest.getOrElse(3, 0L))
      assert(scan.contains("PartitionFilters"), scan.take(1500))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("split assignment is total, disjoint, and stable under corpus growth") {
    val docs = Tables.load(spark, dir, "documents")
    val a = graft.operators.Packing.splitAssign(docs)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a.size == docs.count())
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // growth stability: assignments on a SUBSET are identical — adding
    // data can never reshuffle existing membership
    val b = graft.operators.Packing.splitAssign(docs.where(col("doc_id") < 20))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(b.forall { case (id, s) => a(id) == s })
  }

  test("integer pagerank: exact hand-computed ranks on a star graph") {
    import spark.implicits._
    // star: center 0 <-> leaves 1..4. After one round:
    //   center: 150000 + 850*(4 * (1000000 div 1)) div 1000 = 3550000
    //   leaf:   150000 + 850*(1000000 div 4) div 1000      =  362500
    val pairs = (1L to 4L).map(i => (0L, i)).toDF("d1", "d2")
    val pr = graft.operators.Graph.pagerankInt(pairs, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr(0L) == 3550000L, pr.toString)
    assert((1L to 4L).forall(pr(_) == 362500L), pr.toString)
  }

  test("distributed pagerank branch == driver loop (forced past the threshold)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300).map(_ => (rnd.nextInt(60).toLong, 60L + rnd.nextInt(60)))
      .distinct.toDF("d1", "d2")
    def run(thr: Long) = graft.operators.Graph.pagerankInt(pairs, 7, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(0L) == run(Long.MaxValue), "branches disagree")
  }

  test("pq: seed rows encode to themselves (zero subspace distance)") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, dir, "embeddings")
    val books = SimilaritySearch.pqCodebooks(emb, nSub = 8, nCodes = 16)
    val codes = SimilaritySearch.pqEncode(col("embedding"), books)
    val seedCodes = emb.where(col("vec_id") < 16)
      .select(col("vec_id") +: codes.zipWithIndex.map { case (c, s) => c.as(s"c$s") }: _*)
      .collect()
    // every seed's subvector is its own nearest centroid in every subspace
    for (r <- seedCodes; s <- 0 until 8)
      assert(r.getLong(1 + s) == r.getLong(0), s"seed ${r.getLong(0)} subspace $s")
    // and the search returns exactly k ranked rows
    val (qv, corpus) = SimilaritySearch.queryById(emb, 3L)
    assert(SimilaritySearch.pqSearchVec(corpus, qv, books, k = 5).count() == 5)
  }

  /** The sf0.001 embeddings plus one all-zero vector (vec_id -1): its
    * cosine against any query is NaN. */
  private def withZeroRow(emb: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    emb.select("vec_id", "embedding").unionByName(Seq((-1L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
  }

  test("single-query searches drop a zero-vector row's NaN score instead of ranking it first") {
    import graft.operators.SimilaritySearch
    val emb = Tables.load(spark, dir, "embeddings")
    val (qv, corpus) = SimilaritySearch.queryById(emb, 3L)
    val zeroed = withZeroRow(corpus)
    val codebook = SimilaritySearch.collectCodebook(emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    val books = SimilaritySearch.pqCodebooks(emb, nSub = 8, nCodes = 16)
    // every bucket, every list and every preselect candidate is probed,
    // so the zero row reaches the ranking in every search
    val searches = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "lsh" -> (c => SimilaritySearch.lshSearchVec(c, qv, k = 5, d = 64, probeHamming = 8)),
      "ivf" -> (c => SimilaritySearch.ivfSearchVec(c, codebook, qv, nprobe = 16, k = 5)),
      "pq" -> (c => SimilaritySearch.pqSearchVec(c, qv, books, k = 5, refineK = 1000)),
      "matryoshka" -> (c => SimilaritySearch.matryoshkaTopK(c, qv, k = 5, refineK = 1000)),
      "matryoshka_index" -> { c =>
        val path = java.nio.file.Files.createTempDirectory("graft-prefix").toString + "/idx"
        SimilaritySearch.buildPrefixIndex(c, 16, path)
        SimilaritySearch.matryoshkaIndexTopK(spark, path, qv, k = 5, refineK = 1000)
      })
    for ((name, search) <- searches) {
      def ranked(c: org.apache.spark.sql.DataFrame) =
        search(c).orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = ranked(zeroed)
      assert(got.size == 5 && !got.exists(_._2 == -1L), s"$name: $got")
      assert(got == ranked(corpus), name)
    }
  }

  test("tf-idf keywords: a doc-unique token outranks a ubiquitous one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra zebra common"),
      (2L, "common common common stuff"),
      (3L, "common stuff common stuff")
    ).toDF("doc_id", "text")
    val kw = graft.operators.TextAnalysis.keywords(docs, 1)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // doc 1: zebra tf=2 * idf 3000 = 6000 beats common tf=3 * idf 1000
    assert(kw(1L) == "zebra", kw.toString)
  }

  test("bigram surprisal: unique transitions score rarer than repeated ones") {
    import spark.implicits._
    // surprisal is CONDITIONAL (1000 - c(w1,w2)*1000/c(w1.)): a head
    // that always continues the same way is unsurprising even if the
    // bigram is globally rare; rarity needs DIVERSE continuations
    val docs = Seq(
      (1L, "a b a b a b a b"),  // b|a dominant transition
      (2L, "a c a d a e a f")  // a's continuations all rare
    ).toDF("doc_id", "text")
    val sc = graft.operators.TextAnalysis.lmScore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(sc(2L) > sc(1L), sc.toString)
  }

  test("semantic dedup: planted clusters, paper keep policy, assignment tie-break") {
    import spark.implicits._
    // centroid-seed rows 0 (e_x) and 1 (e_y); a 3-dup group near c0
    // (which captures row 0 itself: cosine((1,0,0,0),(1,.1,0,0)) ~ .995),
    // a 2-dup group near c1, and a singleton equidistant from both
    // centroids (tie must go to the LOWER cid, matching the oracle's
    // ORDER BY dist, cid)
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (10L, Array(1f, 0.1f, 0f, 0f)), (11L, Array(1f, 0.2f, 0f, 0f)),
      (12L, Array(1f, 0.3f, 0f, 0f)),
      (20L, Array(0f, 1f, 0.5f, 0f)),
      (30L, Array(0f, 0f, 0f, 1f)))
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Dedup.semanticDedup(emb, nCentroids = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // keepers are the members FARTHEST from their centroid: 12 (dist .3)
    // for group {0,10,11,12}, 20 (dist .5) for group {1,20}; 30 survives
    // as a singleton
    assert(out == Set((12L, 4L), (20L, 2L), (30L, 1L)), out.toString)
  }

  test("semantic dedup: group sizes partition the corpus; cap is a no-op when not engaged") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val out = Dedup.semanticDedup(emb)
    // every corpus row is accounted for exactly once across the groups
    assert(out.agg(sum("group_sz")).head().getLong(0) == emb.count())
    assert(out.select("vec_id").distinct().count() == out.count())
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set(out) == set(Dedup.semanticDedup(emb, clusterCap = 1000000)))
    // dup groups exist on the fixture (the 14 exact near-dup pairs
    // include within-cluster ones), so the operator is not vacuous
    assert(out.count() < emb.count())
  }

  test("semantic dedup: degenerate cluster chains through the cap to ONE group") {
    import spark.implicits._
    // 100 copies of one vector: all land in the cluster of seed row 0;
    // rank-blocked candidates are O(n x cap), and the chain must still
    // connect the whole clique into one group whose keeper is the min
    // id (all centroid-dists equal -> id tie-break)
    val v = Array.tabulate(4)(i => (math.cos(i + 1) * 2).toFloat)
    val emb = (0L until 100L).map(i => (i, v)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Dedup.semanticDedup(emb, nCentroids = 1, clusterCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 100L)), out.toString)
  }

  test("semantic dedup scaled: k tracks corpus size and keeps the partition invariant") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val out = SparkEntry.queries("dedup_semantic_scaled")(spark, "/root/testdata/sf0.01")
    assert(out.agg(sum("group_sz")).head().getLong(0) == emb.count())
  }

  test("hierarchical SemDeDup with exhaustive probe == flat assignment (r9 #4b)") {
    // nprobe >= C makes the coarse probe cover every cell, so the fine
    // argmin sees every fine centroid — assignment (and therefore the
    // whole operator) must EQUAL the flat broadcast-codebook path,
    // tie-breaks included. This is the machinery-correctness gate for
    // the two-level path; sub-exhaustive nprobe is the standard IVF
    // approximation and is pinned by the mirrored oracle SQL instead.
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = Tables.load(spark, dir, "embeddings")
      val k = 16
      val c = math.ceil(math.sqrt(k.toDouble)).toInt
      assert(set(Dedup.semanticDedupHierarchical(emb, nCentroids = k, nprobe = c))
        == set(Dedup.semanticDedup(emb, nCentroids = k)), s"mismatch at $dir")
    }
    // partition invariant holds at the default (sub-exhaustive) nprobe
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val h = Dedup.semanticDedupHierarchical(emb, nCentroids = 16)
    assert(h.agg(sum("group_sz")).head().getLong(0) == emb.count())
  }

  test("semantic dedup: fitted k-means centroids preserve the partition invariant") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = graft.operators.SimilaritySearch.kmeansCentroids(
      emb.select(col("embedding")), k = 4)
    val out = Dedup.semanticDedup(emb, centroids = Some(cents))
    assert(out.agg(sum("group_sz")).head().getLong(0) == emb.count())
  }

  test("bucketed range join == naive range join, incl. negative/boundary/overlap edges") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // points straddling bucket boundaries, negatives, exact interval
    // edges (start inclusive, end exclusive)
    val pts = Seq((1L, -21L), (2L, -10L), (3L, -1L), (4L, 0L), (5L, 7L),
      (6L, 10L), (7L, 19L), (8L, 20L), (9L, 35L), (10L, 99L))
      .toDF("pid", "x")
    val ivs = Seq(
      (100L, -25L, -9L),  // negative-coordinate interval
      (101L, -2L, 12L),   // crosses zero and two bucket edges
      (102L, 10L, 20L),   // bucket-aligned edges: 20 must be OUT
      (103L, 15L, 40L),   // overlaps 102 — points 7, 8(? 20 in [15,40)) match both/one
      (104L, 50L, 50L),   // empty: end == start, matches nothing
      (105L, 60L, 55L))   // inverted: matches nothing
      .toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pts, ivs, "x", "s", "e", bucketWidth = 10L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.join(ivs, col("x") >= col("s") && col("x") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"got $got\nnaive $naive")
    assert(got.contains((1L, 100L)) && got.contains((3L, 101L)) &&
      got.contains((4L, 101L)), "negative/zero-crossing edges missing")
    assert(!got.exists(_._2 == 104L) && !got.exists(_._2 == 105L))
    assert(got.contains((6L, 102L)) && !got.contains((8L, 102L)),
      "start must be inclusive, end exclusive")
    assert(got.contains((8L, 103L)) && got.contains((7L, 103L)))
    // equi-keys restrict matching; epoch-ns-scale coordinates stay exact
    // (the floorDiv must not round-trip through double)
    val big = 1800000000000000000L // ~2^60.6, above double's 2^53 exactness
    val kp = Seq(("a", 1L, big + 1L), ("b", 2L, big + 1L)).toDF("k", "pid", "x")
    val ki = Seq(("a", 10L, big, big + 2L)).toDF("k", "iid", "s", "e")
    val kres = RangeJoin.pointInInterval(kp, ki, "x", "s", "e",
        bucketWidth = 900L * 1000000000L, keys = Seq("k"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kres == Set((1L, 10L)), s"keyed join got $kres")
    // non-key column collision fails loudly
    val e = intercept[IllegalArgumentException](RangeJoin.pointInInterval(
      pts.withColumn("s", lit(1L)), ivs, "x", "s", "e", 10L))
    assert(e.getMessage.contains("graft"), e.getMessage)
    // an interval exploding past the bucket cap fails loudly, not OOM
    val wide = Seq((1L, 0L, 10000L)).toDF("iid", "s", "e")
    val boom = intercept[Exception](RangeJoin.pointInInterval(
      pts, wide, "x", "s", "e", bucketWidth = 1L,
      maxBucketsPerInterval = 100L).count())
    val msgs = Iterator.iterate(boom: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("graft: interval spans"), msgs.take(400))
    // fractional coordinates are rejected up front: cast('long') would
    // truncate toward zero and silently drop negative-fraction matches
    val fracP = Seq((1L, -10.5)).toDF("pid", "x")
    val fe = intercept[IllegalArgumentException](RangeJoin.pointInInterval(
      fracP, ivs, "x", "s", "e", 10L))
    assert(fe.getMessage.contains("integral"), fe.getMessage)
    val fracI = Seq((1L, 0L, 9.5)).toDF("iid", "s", "e")
    val fe2 = intercept[IllegalArgumentException](RangeJoin.pointInInterval(
      pts, fracI, "x", "s", "e", 10L))
    assert(fe2.getMessage.contains("integral"), fe2.getMessage)
  }

  test("CMS heavy hitters == naive groupBy-HAVING, incl. empty input and phi guard") {
    import spark.implicits._
    import graft.operators.Sketch
    // skewed synthetic keys: two heavy, a mid key straddling the
    // threshold, and a long rare tail that the naive plan would shuffle
    val keys = (Seq.fill(400)("hot") ++ Seq.fill(90)("warm") ++ Seq.fill(25)("mid") ++
      (0 until 200).map(i => s"tail_$i")).toDF("k")
    def naive(phi: Double) = {
      val n = keys.count()
      val t = math.ceil(phi * n).toLong
      keys.groupBy("k").agg(count(lit(1)).as("n")).where(col("n") >= t)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    for (phi <- Seq(0.5, 0.125, 0.03125, 0.01)) {
      val got = Sketch.heavyHitters(keys, "k", phi)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == naive(phi), s"phi=$phi: $got vs ${naive(phi)}")
    }
    // tiny eps-width sketch: more false candidates, still exact output
    val coarse = Sketch.heavyHitters(keys, "k", 0.125, eps = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(coarse == naive(0.125), s"coarse sketch broke exactness: $coarse")
    val empty = Sketch.heavyHitters(keys.where(lit(false)), "k", 0.125)
    assert(empty.collect().isEmpty && empty.columns.toSeq == Seq("k", "n"))
    val e = intercept[IllegalArgumentException](Sketch.heavyHitters(keys, "k", 1.0))
    assert(e.getMessage.contains("graft"), e.getMessage)
    // null keys: excluded from rank space AND output (count(col)
    // semantics) — a null-heavy input must not inflate the threshold
    val withNulls = keys.select(col("k"))
      .unionByName((0 until 2000).map(_ => Option.empty[String]).toDF("k"))
    val gotN = Sketch.heavyHitters(withNulls, "k", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotN == naive(0.5), s"null keys perturbed the result: $gotN")
  }

  test("topic clusters: doc-frequency top tokens, alpha ties, tokenless clusters") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "alpha beta alpha alpha"), // within-doc repeats count ONCE (doc frequency)
      (2L, "beta gamma"),
      (3L, "beta delta"),
      (4L, "zeta eta theta iota")).toDF("doc_id", "text")
    // cid 20 has docs with no document rows -> empty top_toks
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 11L),
      (8L, 20L), (9L, 20L)).toDF("doc_id", "cid")
    val got = TextAnalysis.topicClusters(docs, asg, topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // cluster 10: beta df=3; alpha/gamma/delta df=1 tie -> alphabetical
    assert(got == Set((10L, 3L, "beta,alpha"), (11L, 1L, "eta,iota"),
      (20L, 2L, "")), got.toString)
  }

  test("boilerplate removal: threshold boundary, order kept, within-doc repeats, emptied docs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // "hdr" in 3 docs (== minDocs: removed), "twice" in 2 (kept);
    // doc 3 is pure boilerplate (-> ''); doc 1 repeats hdr within
    // itself (all occurrences removed, body order intact)
    val docs = Seq(
      (1L, "hdr\nbody one\nhdr\nbody two"),
      (2L, "hdr\ntwice\nbody three"),
      (3L, "hdr"),
      (4L, "twice\nbody four")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, minDocs = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(
      1L -> "body one\nbody two",
      2L -> "twice\nbody three",
      3L -> "",
      4L -> "twice\nbody four"), got.toString)
    // custom literal separator (regex metachars must not be treated
    // as a pattern)
    val dot = Seq((1L, "a|b"), (2L, "a|c"), (3L, "a|d")).toDF("doc_id", "text")
    val g2 = TextAnalysis.removeBoilerplate(dot, minDocs = 3L, sep = "|")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(g2 == Map(1L -> "b", 2L -> "c", 3L -> "d"), g2.toString)
  }

  test("phrase topics: collocation survivors rank as composite vocabulary entries") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // "neural nets" co-occurs in every cluster-10 doc; filler tokens
    // are unique per doc (df=1) so the phrase and its halves (df=3)
    // own the top slots — alphabetical among the df tie
    val docs = Seq(
      (1L, "neural nets alpha0 beta0"),
      (2L, "neural nets alpha1 beta1"),
      (3L, "neural nets alpha2 beta2"),
      (4L, "gamma delta")).toDF("doc_id", "text")
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 11L)).toDF("doc_id", "cid")
    val got = TextAnalysis.phraseTopics(docs, asg, topK = 3,
        minCount = 3L, topPhrases = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      (10L, 3L, "nets,neural,neural_nets"),
      (11L, 1L, "delta,gamma")), got.toString)
    // raising the floor above the phrase count degrades to plain topics
    val noPh = TextAnalysis.phraseTopics(docs, asg, topK = 3,
        minCount = 4L, topPhrases = 10)
      .where(col("cid") === 10L).head().getString(2)
    assert(!noPh.contains("_"), noPh)
  }

  test("collocations: planted pair ranks first, minCount floor, empty docs inert") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // filler bigrams are frequent but statistically unremarkable (the
    // filler tokens also appear apart); "zig zag" tokens ONLY ever
    // co-occur adjacently -> maximal lift, must rank first
    val filler = (0 until 40).map(i =>
      s"the cat sat on the mat and the dog sat on the rug item$i")
    val planted = (0 until 12).map(_ => "zig zag")
    val rare = Seq("qux corge", "qux corge") // n_ab = 2 < minCount -> dropped
    val empty = Seq("", "   ")               // zero-token docs: inert in n_bigrams
    val docs = (filler ++ planted ++ rare ++ empty).toDF("text")
    val got = TextAnalysis.collocations(docs, minCount = 3L, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.head._1 == "zig" && got.head._2 == "zag" && got.head._3 == 12L,
      s"planted pair not first: ${got.mkString("; ")}")
    assert(!got.exists(p => p._1 == "qux"), "minCount floor leaked a rare pair")
    // exact n_bigrams check: lift of the planted pair is
    // (12*T)/(12*12) * (T/B) with T tokens and B = sum(max(len-1,0))
    val t = 40L * 14L + 12L * 2L + 2L * 2L
    val b = 40L * 13L + 12L * 1L + 2L * 1L
    val lift = TextAnalysis.collocations(docs, minCount = 3L, topK = 5)
      .where(col("a") === "zig").select("lift").head().getDouble(0)
    val expect = (12.0 * t) / (12.0 * 12.0) * (t.toDouble / b)
    assert(lift == expect, s"lift $lift != $expect (empty docs skewed n_bigrams?)")
  }

  test("bloom semi join == plain semi join, incl. undersized filter and string keys") {
    import spark.implicits._
    import graft.operators.Sketch
    val left = (0L until 3000L).map(i => (i, i % 11)).toDF("k", "payload")
    val right = (0L until 3000L by 7L).map(i => (i, "r")).toDF("k", "tag")
    def plainL = left.join(right.select("k").distinct(), Seq("k"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val got = Sketch.bloomSemiJoin(left, right, "k", expectedItems = 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(got == plainL)
    // grossly undersized filter: fpp degrades, exactness must not
    val tiny = Sketch.bloomSemiJoin(left, right, "k", expectedItems = 10L, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(tiny == plainL, "undersized bloom broke exactness")
    // string keys route through putBinary/mightContainBinary
    val ls = left.select(concat(lit("id_"), col("k")).as("k"))
    val rs = right.select(concat(lit("id_"), col("k")).as("k"))
    val gotS = Sketch.bloomSemiJoin(ls, rs, "k", expectedItems = 1000L)
      .collect().map(_.getString(0)).toSet
    val plainS = ls.join(rs.distinct(), Seq("k"), "left_semi")
      .collect().map(_.getString(0)).toSet
    assert(gotS == plainS)
  }

  test("forward as-of join: earliest right at-or-after, inclusive, null when none") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq(("a", 1L, 5L), ("a", 2L, 20L), ("b", 3L, 1L))
      .toDF("k", "lid", "t")
    val right = Seq(("a", 5L, "x"), ("a", 7L, "y"), ("a", 3L, "z"), ("b", 9L, "w"))
      .toDF("k", "rt", "v")
    val got = AsOfJoin.forward(left, right, Seq("k"), "t", "rt")
      .select("lid", "v").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got == Map(1L -> Some("x"), // inclusive: rt == t matches, beats rt=7
      2L -> None,                       // nothing at-or-after
      3L -> Some("w")), got.toString)
  }

  test("as-of join tie-break: right rows sharing (key, time) resolve deterministically") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // three right rows at the SAME instant — the struct-greatest
    // payload must win, every run, both directions
    val left = Seq(("a", 1L, 10L)).toDF("k", "lid", "t")
    val right = Seq(("a", 10L, "m"), ("a", 10L, "z"), ("a", 10L, "a"))
      .toDF("k", "rt", "v")
    for (_ <- 1 to 3) {
      val bwd = AsOfJoin.backward(left.repartition(7), right.repartition(5),
        Seq("k"), "t", "rt").select("v").head().getString(0)
      assert(bwd == "z", s"backward tie pick $bwd")
      val fwd = AsOfJoin.forward(left.repartition(3), right.repartition(8),
        Seq("k"), "t", "rt").select("v").head().getString(0)
      assert(fwd == "z", s"forward tie pick $fwd")
    }
    // unorderable payload (map field): tie-break silently not applied,
    // but the join still runs and matches
    val rMap = Seq(("a", 10L, Map("p" -> 1)), ("a", 3L, Map("q" -> 2)))
      .toDF("k", "rt", "m")
    val gotM = AsOfJoin.backward(left, rMap, Seq("k"), "t", "rt")
      .select("m").head().getMap[String, Int](0)
    assert(gotM != null && gotM.nonEmpty)
  }

  test("two-pass exact quantile == sorted rank select, incl. duplicates and edges") {
    import spark.implicits._
    import graft.operators.Sketch
    val rnd = new scala.util.Random(11)
    // heavy duplication stresses the multiset-rank semantics
    val vals = (0 until 5000).map(_ => (rnd.nextInt(40) * 2.5))
    val df = vals.toDF("x")
    val sorted = vals.sorted
    for (p <- Seq(0.25, 0.5, 0.75, 1.0)) {
      val expect = sorted(math.ceil(p * vals.size).toInt - 1)
      assert(Sketch.exactQuantile(df, "x", p).contains(expect), s"p=$p")
      // a degenerate sketch width still yields the exact answer
      // (bracket guard falls back to the full-range select if violated)
      assert(Sketch.exactQuantile(df, "x", p, accuracy = 100).contains(expect),
        s"p=$p coarse accuracy")
    }
    // batched form: shared bracket + count passes, same answers
    val batched = Sketch.exactQuantiles(df, "x", Seq(0.25, 0.5, 0.75, 1.0))
    assert(batched == Seq(0.25, 0.5, 0.75, 1.0)
      .map(p => Some(sorted(math.ceil(p * vals.size).toInt - 1))), batched.toString)
    assert(Sketch.exactQuantile(df.where(lit(false)), "x", 0.5).isEmpty)
    // nulls are excluded from rank space, matching count(col) SQL
    val withNulls = (vals.map(Option(_)) ++ Seq.fill(500)(Option.empty[Double]))
      .toDF("x")
    assert(Sketch.exactQuantile(withNulls, "x", 0.5)
      .contains(sorted(math.ceil(0.5 * vals.size).toInt - 1)))
  }

  test("minhash decontamination: banded cross probe + exact verify, lowest-id ties") {
    import spark.implicits._
    import graft.operators.Curation
    // ~30-token texts: a one-word edit keeps J ~0.93, reliably banded
    // (shorter texts make banding a coin flip — see round notes)
    val base = "the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew strong potions under a pale moon near the silent river bank tonight"
    val edited = base.replace("silent", "roaring")
    val corpus = Seq(
      (100L, edited),               // near-dup of bench 1
      (101L, base),                 // exact dup of bench 1 AND bench 2 -> tie to 1
      (102L, "completely different words about spark partitions and shuffles " +
        "living in a tungsten codegen world with adaptive query execution everywhere")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val got = Curation.decontaminateMinhash(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList.sortBy(_._1)
    assert(got.map(x => (x._1, x._2)) == List((100L, 1L), (101L, 1L)), got.toString)
    assert(got.find(_._1 == 101L).get._3 == 1.0, "exact dup must verify at j = 1")
    assert(got.find(_._1 == 100L).get._3 < 1.0)
    // ids at/above the cross-corpus offset would alias into the
    // benchmark namespace: loud per-row failure
    val aliased = Seq((graft.OracleSql.CrossDocOffset + 5L, base)).toDF("doc_id", "text")
    val boom = intercept[Exception](
      Curation.decontaminateMinhash(aliased, bench).count())
    val msgs = Iterator.iterate(boom: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("outside [0,"), msgs.take(400))
  }

  test("classifyByVote: majority label per query, ties to smallest label") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    val topk = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 13L))
      .toDF("qid", "cid")
    val labels = Seq((10L, 7), (11L, 3), (12L, 3), (13L, 7)).toDF("cid", "label")
    val got = SimilaritySearch.classifyByVote(topk, labels)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // qid 1: label 3 x2 beats 7 x1; qid 2: 7 x2 unanimous... no — 10->7,
    // 13->7: both 7 -> votes 2
    assert(got == Set((1L, 3, 2L), (2L, 7, 2L)), got.toString)
    // exact tie: one vote each -> smallest label wins
    val tied = Seq((9L, 10L), (9L, 11L)).toDF("qid", "cid")
    val t = SimilaritySearch.classifyByVote(tied, labels).head()
    assert((t.getLong(0), t.getInt(1), t.getLong(2)) == ((9L, 3, 1L)))
    // unlabeled neighbors abstain; all-abstain queries are absent
    val labelsN = Seq((10L, Option.empty[Int]), (11L, Some(3)), (12L, Option.empty[Int]))
      .toDF("cid", "label")
    val gotAbstain = SimilaritySearch.classifyByVote(topk, labelsN)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotAbstain == Set((1L, 3, 1L)), gotAbstain.toString) // qid 2: all abstained
  }

  test("group-wise two-pass quantile == per-group sorted rank select") {
    import spark.implicits._
    import graft.operators.Sketch
    val rnd = new scala.util.Random(23)
    // wildly skewed group sizes: 3000 / 40 / 1
    val rows = (0 until 3000).map(i => ("big", rnd.nextInt(500) * 1.5)) ++
      (0 until 40).map(_ => ("small", rnd.nextInt(10) * 2.0)) ++
      Seq(("single", 42.0)) ++
      Seq((null.asInstanceOf[String], 7.0)) ++       // null key: excluded
      (0 until 5).map(_ => ("allnull", Double.NaN)) // NaN -> null below
    val df = rows.toDF("k", "v")
      .withColumn("v", when(col("v").isNaN, lit(null)).otherwise(col("v")))
    def expect(p: Double) = rows
      .filter(r => r._1 != null && r._1 != "allnull")
      .groupBy(_._1).map { case (k, vs) =>
        val s = vs.map(_._2).sorted
        (k, s(math.ceil(p * s.size).toInt - 1))
      }.toSet
    for (p <- Seq(0.5, 0.25); acc <- Seq(10000, 100)) {
      val got = Sketch.groupQuantile(df, Seq("k"), "v", p, accuracy = acc)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(got == expect(p), s"p=$p acc=$acc: $got vs ${expect(p)}")
    }
  }

  test("fuzzy self-join == naive levenshtein join at d=1 and d=2, guards fire loudly") {
    import spark.implicits._
    import graft.operators.FuzzyJoin
    // substitution (beta/betta is insertion; alpha/alpna substitution),
    // deletion (alph), suffix insertion (alpha1), adjacent transposition
    // (gamma/gamam, d=2), doubled letters (variant dedupe), input
    // duplicates (distinct semantics), a null, and the ""/"x" edge
    val labels = Seq("alpha", "alpna", "alph", "alpha1", "beta", "betta",
      "gamma", "gamam", "delta", "delta", null, "x", "")
    val df = labels.toDF("label")
    def naive(d: Int): Set[(String, String, Long)] = {
      def lev(a: String, b: String): Int = {
        val dp = Array.tabulate(a.length + 1)(i => i)
        for (j <- 1 to b.length) {
          var prev = dp(0); dp(0) = j
          for (i <- 1 to a.length) {
            val t = dp(i)
            dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
              prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
            prev = t
          }
        }
        dp(a.length)
      }
      val ks = labels.filter(_ != null).distinct
      (for (a <- ks; b <- ks if a < b; l = lev(a, b) if l <= d)
        yield (a, b, l.toLong)).toSet
    }
    for (d <- Seq(1, 2)) {
      val got = FuzzyJoin.selfJoin(df, "label", d = d)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == naive(d), s"d=$d: got $got\nexpected ${naive(d)}")
    }
    // transposition is two unit edits: caught at d=2 only
    assert(!naive(1).exists(p => p._1 == "gamam" && p._2 == "gamma"))
    assert(naive(2).contains(("gamam", "gamma", 2L)))
    // empty-vs-one-char rides the "" shared variant
    assert(naive(1).contains(("", "x", 1L)))
    // guards: document-length key and hot shared variant fail loudly
    val long = intercept[IllegalArgumentException](
      FuzzyJoin.selfJoin(Seq("a" * 80).toDF("label"), "label", maxLen = 64))
    assert(long.getMessage.contains("maxLen"), long.getMessage)
    val hot = intercept[IllegalArgumentException](
      FuzzyJoin.selfJoin(df, "label", d = 2, maxBucket = 1L))
    assert(hot.getMessage.contains("maxBucket"), hot.getMessage)
    // empty and all-null inputs: empty result, correct schema
    val empty = FuzzyJoin.selfJoin(Seq.empty[String].toDF("label"), "label")
    assert(empty.columns.toSeq == Seq("a", "b", "dist") && empty.count() == 0)
    assert(FuzzyJoin.selfJoin(Seq[String](null).toDF("label"), "label").count() == 0)
  }

  test("anomalous hours: spike and drought flagged, constants and near-misses not") {
    import spark.implicits._
    import graft.streaming.EventOps
    val H = 3600L * 1000000000L
    def rows(tpe: String, counts: Seq[Int]): Seq[(String, Long)] =
      counts.zipWithIndex.flatMap { case (c, hr) =>
        (0 until c).map(i => (tpe, hr * H + i))
      }
    // single outlier among H-1 equal hours has z^2 = H-1 exactly, so
    // 5 hours sits ON the k=2 boundary (not flagged: strict >) and 6
    // hours clears it — the fixture pins the exact-arithmetic boundary
    val events = (rows("spike", Seq(10, 10, 10, 10, 10, 100)) ++
        rows("drought", Seq(50, 50, 50, 50, 50, 1)) ++
        rows("boundary", Seq(10, 10, 10, 10, 100)) ++
        rows("flat", Seq(7, 7, 7)))
      .toDF("event_type", "ts_ns")
    val got = EventOps.anomalousHours(events, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("spike", 5L * 3600L, 100L),
      ("drought", 5L * 3600L, 1L)), got.toString)
  }

  test("two-sided fuzzy join == naive cross levenshtein, incl. dist-0 and d=2") {
    import spark.implicits._
    import graft.operators.FuzzyJoin
    val noisy = Seq("alpha", "alpa", "beta", "betaa", "gamma", "zzz", null)
      .toDF("label")
    val canon = Seq("alpha", "beta", "gamma", "delta").toDF("name")
    for (d <- Seq(1, 2)) {
      val got = FuzzyJoin.join(noisy, canon, "label", "name", d = d)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val naive = noisy.where(col("label").isNotNull).distinct()
        .crossJoin(canon.distinct())
        .withColumn("dist", levenshtein(col("label"), col("name")).cast("long"))
        .where(col("dist") <= d)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == naive, s"d=$d: got $got\nnaive $naive")
    }
    // identical keys pair at dist 0; unmatched keys are absent
    val d1 = FuzzyJoin.join(noisy, canon, "label", "name", d = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(d1.contains(("alpha", "alpha", 0L)) && d1.contains(("alpa", "alpha", 1L)))
    assert(!d1.exists(_._1 == "zzz"))
    // per-side guards fire loudly
    val long = intercept[IllegalArgumentException](
      FuzzyJoin.join(noisy, Seq("a" * 80).toDF("name"), "label", "name"))
    assert(long.getMessage.contains("right-side"), long.getMessage)
  }

  test("fuzzy profile: exact counters on a hand-computable vocabulary") {
    import spark.implicits._
    import graft.operators.FuzzyJoin
    // d=1 neighborhoods: ab->{ab,b,a}, ac->{ac,c,a}, b->{b,""}
    // buckets: a:2 b:2 ab:1 ac:1 c:1 "":1 -> 8 variants, max 2,
    // hot tie (a,b) broken ascending, candidates 1+1=2
    val df = Seq("ab", "ac", "b", "ab", null).toDF("k") // dup + null collapse
    val p = FuzzyJoin.profile(df, "k", d = 1)
    assert(p.keys == 3L && p.maxKeyLen == 2 && p.variants == 8L, p.toString)
    assert(p.maxBucket == 2L && p.hotVariant == "a" && p.candidatePairs == 2L,
      p.toString)
    assert(math.abs(p.fanOutAvg - 8.0 / 3.0) < 1e-12, p.toString)
    val p0 = FuzzyJoin.profile(Seq.empty[String].toDF("k"), "k")
    assert(p0.keys == 0L && p0.variants == 0L && p0.candidatePairs == 0L)
  }

  test("interval overlap join == naive predicate join; exactly-once; integral-only") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // second left interval spans 3 buckets at w=10; last is empty
    val left = Seq((1L, 0L, 25L), (1L, 3L, 31L), (2L, 5L, 8L), (1L, 40L, 40L))
      .toDF("k", "ls", "le")
    val right = Seq((1L, 24L, 42L), (1L, 0L, 5L), (2L, 7L, 9L), (3L, 0L, 100L))
      .toDF("k", "rs", "re")
    val rows = RangeJoin.intervalOverlap(left, right, "ls", "le", "rs", "re",
        bucketWidth = 10L, keys = Seq("k"))
      .select("k", "ls", "rs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") &&
          col("l.le") > col("l.ls") && col("r.re") > col("r.rs") &&
          col("l.ls") < col("r.re") && col("r.rs") < col("l.le"))
      .select(col("l.k"), col("l.ls"), col("r.rs")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.toSet == naive && naive.nonEmpty)
    // exactly-once: a pair co-covered by several buckets emits ONE row
    assert(rows.length == naive.size, rows.mkString(", "))
    val bad = left.withColumn("ls", col("ls").cast("double"))
    val e = intercept[IllegalArgumentException](
      RangeJoin.intervalOverlap(bad, right, "ls", "le", "rs", "re", 10L, Seq("k")))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("triangle counts: K4 + pendant; dup/reversed/self pairs normalized") {
    import spark.implicits._
    import graft.operators.Graph
    // K4 on {1,2,3,4}: every node closes C(3,2) = 3 triangles; the
    // pendant edge 5-1 closes none; noise rows must not change counts
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (1L, 2L), (2L, 1L), (3L, 3L)).toDF("d1", "d2")
    val got = Graph.triangles(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("phrase match counts OVERLAPPING occurrences; normalizes; validates terms") {
    import spark.implicits._
    import graft.operators.Search
    val docs = Seq(
      (1L, "a a a b"),     // "a a" aligns at 0 and 1 (overlapping)
      (2L, "x a a y a a"), // two disjoint occurrences
      (3L, "a b a"),       // none for "a a"
      (4L, "A;a!a")        // punctuation/case fold to [a, a, a]
    ).toDF("doc_id", "text")
    val aa = Search.phraseMatch(docs, Seq("a", "a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(aa == Map(1L -> 2L, 2L -> 2L, 4L -> 2L), aa.toString)
    val ab = Search.phraseMatch(docs, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ab == Map(1L -> 1L, 3L -> 1L), ab.toString)
    val e = intercept[IllegalArgumentException](
      Search.phraseMatch(docs, Seq("Bad Term")))
    assert(e.getMessage.contains("normalized"), e.getMessage)
    // DUPLICATED postings (same doc_id twice — the caller-owned
    // degenerate state PostingIndex documents for a double append):
    // the doc must still be FOUND, each occurrence once, not silently
    // dropped (a plain alignment count would be 2L != L) nor inflated
    // (the old join shape returned 2^L copies)
    val dup = Seq((7L, "fast order now"), (7L, "fast order now"))
      .toDF("doc_id", "text")
    val hits = Search.phraseMatch(dup, Seq("fast", "order")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(7L -> 1L), hits.toString)
  }

  test("phrase match == brute-force sliding window on randomized corpora (slot-alignment property)") {
    import spark.implicits._
    import graft.operators.Search
    // small alphabet forces heavy overlap + repeated phrase terms —
    // the regimes where the slot-alignment count proof could break
    val rnd = new scala.util.Random(1405L)
    for (round <- 1 to 8) {
      val alphabet = Seq("a", "b", "c")
      val docs = (1L to 40L).map { id =>
        id -> Seq.fill(2 + rnd.nextInt(14))(alphabet(rnd.nextInt(3))).mkString(" ")
      }
      val phraseLen = 1 + rnd.nextInt(3)
      val phrase = Seq.fill(phraseLen)(alphabet(rnd.nextInt(3)))
      val want = docs.flatMap { case (id, text) =>
        val toks = text.split(" ").toSeq
        val n = toks.sliding(phraseLen).count(_ == phrase)
        if (toks.size >= phraseLen && n > 0) Some(id -> n.toLong) else None
      }.toMap
      val got = Search.phraseMatch(docs.toDF("doc_id", "text"), phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"round $round phrase=${phrase.mkString(" ")}")
    }
  }

  test("priority sample: md5-exact integer priorities, weight-monotone, guards") {
    import spark.implicits._
    import graft.operators.Curation
    val df = (1L to 200L).map(i => (i, if (i <= 100) 10L else 1000L))
      .toDF("doc_id", "n_chars")
    val got = Curation.prioritySample(df, 50).collect()
    // the exact expected sample, recomputed with JVM md5 arithmetic
    def u60(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val exp = (1L to 200L)
      .map(i => (u60(i) / (if (i <= 100) 10L else 1000L), i))
      .sorted.take(50).map(_._2).toSet
    assert(got.map(_.getLong(0)).toSet == exp)
    // 100x weight must dominate the sample
    assert(got.count(_.getLong(0) > 100L) > 40, got.map(_.getLong(0)).mkString(","))
    val e = intercept[IllegalArgumentException](Curation.prioritySample(
      df.withColumn("n_chars", col("n_chars").cast("double")), 5))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("MAD outliers: exact median/MAD, flags what a 3-sigma z-score masks") {
    import spark.implicits._
    import graft.operators.Sketch
    // 1..9 plus a 1000 spike: med = 5, devs sorted
    // [0,1,1,2,2,3,3,4,4,995] -> mad = 2; only the spike exceeds 3*mad.
    // The same spike inflates stddev to ~314, so its z-score is ~2.85 —
    // BELOW a 3-sigma gate: the masking failure MAD exists to avoid.
    val df = ((1 to 9).map(v => ("g", v.toLong)) :+ (("g", 1000L))).toDF("g", "v")
    val got = Sketch.madOutliers(df, Seq("g"), "v", 3.0)
      .select("v", "med", "mad").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1000L, 5.0, 2.0)), got.mkString(", "))
    val (mean, sd) = {
      val vs = (1 to 9).map(_.toDouble) :+ 1000.0
      val m = vs.sum / vs.size
      (m, math.sqrt(vs.map(x => (x - m) * (x - m)).sum / vs.size))
    }
    assert((1000.0 - mean) / sd < 3.0, "fixture no longer demonstrates masking")
    intercept[IllegalArgumentException](Sketch.madOutliers(df, Seq("g"), "v", 0.0))
  }

  test("generalized funnel reproduces the fixed 3-stage funnel; guards fire") {
    val ev = Tables.events(spark, dir)
    val gen = EventOps.funnel(ev, Seq("view", "click", "purchase"),
        3600L * 1000000000L)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    val old = SparkEntry.queries("ev_funnel")(spark, dir).collect().head
    assert(gen(0) == old.getAs[Long]("n_view"), gen.toString)
    assert(gen(1) == old.getAs[Long]("n_view_click"), gen.toString)
    assert(gen(2) == old.getAs[Long]("n_funnel"), gen.toString)
    intercept[IllegalArgumentException](EventOps.funnel(ev, Nil, 1L))
    intercept[IllegalArgumentException](
      EventOps.funnel(ev, Seq("view", "view"), 1L))
    intercept[IllegalArgumentException](
      EventOps.funnel(ev, Seq("view"), 0L))
  }

  test("streaming trending top-k over the live rollup equals the batch view") {
    import graft.streaming.EventOps
    // the rank is served OFF the rollup sink (group-count-sized), so
    // the drained result must equal ev_trending row for row
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val streamed = asSet(
      EventOps.trendingStream(spark, dir, 2, "graft_trending_spec"))
    val batch = asSet(SparkEntry.queries("ev_trending")(spark, dir))
    assert(streamed == batch && batch.nonEmpty,
      s"streamed=${streamed.take(3)} batch=${batch.take(3)}")
    intercept[IllegalArgumentException](
      EventOps.trendingStream(spark, dir, 0, "graft_trending_g"))
  }

  test("stateful streaming transitions equal the batch window-lag matrix exactly") {
    // no open-tail truncation here (unlike sessions): every transition
    // completes when its second event arrives, so the drained stream
    // must reproduce the batch transition counts verbatim
    val streamed = EventOps.transitionsStream(spark, dir, "graft_transitions_spec")
      .groupBy("prev_type", "event_type").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = SparkEntry.queries("ev_transitions")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("rank eval: hand-computed MRR/nDCG, perfect-ranking exactness, edge queries") {
    import spark.implicits._
    import graft.operators.Search
    val w = Search.ndcgWeights(3)
    assert(w == Seq(1000000L, 630929L, 500000L), w.toString)
    val results = Seq(
      (0L, 10L, 1L), (0L, 20L, 2L), (0L, 30L, 3L),   // 2 of 3 relevant
      (1L, 11L, 1L), (1L, 12L, 2L),                  // nothing relevant
      (2L, 1L, 1L), (2L, 2L, 2L), (2L, 3L, 3L),      // rel doc unretrieved
      (3L, 7L, 1L), (3L, 8L, 2L), (3L, 9L, 3L)       // perfect ranking
    ).toDF("qid", "id", "rank")
    val relevant = Seq(
      (0L, 10L), (0L, 30L), (0L, 99L), (0L, 10L),    // dup row: no double count
      (2L, 4L),
      (3L, 7L), (3L, 8L), (3L, 9L)
    ).toDF("qid", "id")
    val got = Search.rankEval(results, relevant, 3).orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val idcg3 = w.sum
    // q0: hits at ranks 1 and 3; 99 counts toward n_rel only
    assert(got(0) == (0L, 3L, 2L, 1L, 1000000L, w(0) + w(2), idcg3,
      (w(0) + w(2)) * 1000000L / idcg3), got(0).toString)
    // q1: no relevance set at all -> every metric 0
    assert(got(1) == (1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L), got(1).toString)
    // q2: one relevant doc, never retrieved -> idcg counts it, rest 0
    assert(got(2) == (2L, 1L, 0L, 0L, 0L, 0L, w(0), 0L), got(2).toString)
    // q3: perfect ranking -> ndcg is EXACTLY 1e6 (no rounding residue)
    assert(got(3) == (3L, 3L, 3L, 1L, 1000000L, idcg3, idcg3, 1000000L),
      got(3).toString)
    intercept[IllegalArgumentException](Search.rankEval(results, relevant, 0))
  }

  test("stateful streaming funnel equals the batch N-step funnel (incl. zero steps)") {
    import graft.streaming.EventOps
    // the oracle-anchored configuration (ev_funnel_steps' step list):
    // the drained stream's per-step counts must equal the batch
    // min-anchor funnel row for row — including any step no user
    // reaches (emitted with n_users = 0 on both sides)
    val ev = Tables.events(spark, dir)
    val hour2 = 2L * 3600L * 1000000000L
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getInt(0), (r.getString(1), r.getLong(2)))).toMap
    val steps = Seq("signup", "view", "click", "purchase")
    val streamed = asMap(
      EventOps.funnelStream(spark, dir, steps, hour2, "graft_funnel_spec"))
    val batch = asMap(EventOps.funnel(ev, steps, hour2))
    assert(streamed == batch && batch.nonEmpty, s"$streamed vs $batch")
    assert(streamed.size == 4)
    // a step list with an unreachable tail: both sides pad zeros
    val steps0 = Seq("purchase", "signup", "nosuchtype")
    val s0 = asMap(EventOps.funnelStream(
      spark, dir, steps0, hour2, "graft_funnel_spec0"))
    val b0 = asMap(EventOps.funnel(ev, steps0, hour2))
    assert(s0 == b0, s"$s0 vs $b0")
    assert(s0(2)._2 == 0L)
    // same guards as the batch operator
    intercept[IllegalArgumentException](
      EventOps.funnelStream(spark, dir, Nil, 1L, "graft_funnel_g1"))
    intercept[IllegalArgumentException](
      EventOps.funnelStream(spark, dir, Seq("view", "view"), 1L, "graft_funnel_g2"))
    intercept[IllegalArgumentException](
      EventOps.funnelStream(spark, dir, Seq("view"), 0L, "graft_funnel_g3"))
  }

  test("indexed phrase search == scan phrase search; bucket hash write/query-identical") {
    import spark.implicits._
    import graft.operators.{PostingIndex, Search}
    val docs = Tables.load(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft-postings-spec").toString + "/i"
    PostingIndex.create(docs, idx)
    for (phrase <- Seq(Seq("table", "hash"), Seq("a", "a"), Seq("slow", "hash", "batch"))) {
      val scan = Search.phraseMatch(docs, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val probed = Search.phraseMatchIndexed(spark, idx, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(probed == scan, s"${phrase.mkString(" ")}: $probed vs $scan")
    }
    // every written (tok, tb) pair agrees with the driver-side hash —
    // the equality that makes the probe's IN-list STATIC pruning
    val pairs = PostingIndex.scan(spark, idx).select("tok", "tb").distinct().collect()
    assert(pairs.nonEmpty && pairs.forall(r =>
      r.getAs[Int]("tb") == Search.termBucket(r.getString(0), 64)))
    // a dir that is not a posting index fails, naming the path
    val none = java.nio.file.Files.createTempDirectory("graft-postings-none").toString
    val e = intercept[IllegalStateException](
      Search.phraseMatchIndexed(spark, none, Seq("table", "hash")))
    assert(e.getMessage.contains(none), e.getMessage)
  }

  test("crashed FIRST create is wreckage: retry commits past it, vacuum reaps it; an unmarked index has no committed version") {
    import graft.operators.{PostingIndex, Search}
    import org.apache.hadoop.fs.Path
    val docs = Tables.load(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft-pidx-crash").toString + "/i"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a first-ever create crashing mid-"rename" on an object
    // store: a partial v0/gen=0 full of garbage, no markers, no meta.
    // A dir without the marker is wreckage, so nothing reads it.
    fs.mkdirs(new Path(s"$idx/v0/gen=0"))
    val g = fs.create(new Path(s"$idx/v0/gen=0/part-00000.parquet"), true)
    g.write("not parquet".getBytes("UTF-8")); g.close()
    // retry: must succeed by committing PAST the wreckage, and the
    // wreckage must never surface in a scan
    PostingIndex.create(docs, idx)
    val hits = Search.phraseMatchIndexed(spark, idx, Seq("table", "hash")).collect()
    assert(hits.nonEmpty, "recovered index unreadable")
    assert(fs.exists(new Path(s"$idx/v1/_COMMITTED")),
      "retry did not allocate past the crashed v0")
    // vacuum reaps the wreckage, live version survives
    PostingIndex.vacuum(spark, idx)
    assert(!fs.exists(new Path(s"$idx/v0")), "vacuum left the crashed v0")
    assert(Search.phraseMatchIndexed(spark, idx, Seq("table", "hash")).count() == hits.length)
    // committed means marked: an index whose markers are gone has no
    // committed version, so reads and appends both fail and say so
    val bare = java.nio.file.Files.createTempDirectory("graft-pidx-bare").toString + "/i"
    PostingIndex.create(docs, bare)
    val bfs = new Path(bare).getFileSystem(spark.sparkContext.hadoopConfiguration)
    bfs.delete(new Path(s"$bare/v0/_COMMITTED"), false)
    bfs.delete(new Path(s"$bare/v0/gen=0/_COMMITTED"), false)
    val read = intercept[IllegalStateException](
      Search.phraseMatchIndexed(spark, bare, Seq("table", "hash")).collect())
    assert(read.getMessage.contains("no committed version"), read.getMessage)
    val append = intercept[IllegalStateException](PostingIndex.append(docs.limit(0), bare))
    assert(append.getMessage.contains("no committed version"), append.getMessage)
  }

  test("incremental posting index == rebuild; compaction/vacuum lifecycle; crash stage ignored") {
    import graft.operators.{PostingIndex, Search}
    val docs = Tables.load(spark, dir, "documents")
    val phrase = Seq("table", "hash") // occurs at sf0.001 (scan-spec-proven)
    def hits(path: String) =
      Search.phraseMatchIndexed(spark, path, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    // ground truth: a monolithic rebuild over the full corpus
    val full = java.nio.file.Files.createTempDirectory("graft-pidx-full").toString + "/i"
    PostingIndex.create(docs, full)
    val want = hits(full)
    assert(want.nonEmpty)
    // incremental: create on 1/3, append the other two thirds in turn
    val inc = java.nio.file.Files.createTempDirectory("graft-pidx-inc").toString + "/i"
    PostingIndex.create(docs.where(col("doc_id") % 3 === 0), inc)
    PostingIndex.append(docs.where(col("doc_id") % 3 === 1), inc)
    assert(hits(inc) != want) // two thirds indexed: not yet equal
    PostingIndex.append(docs.where(col("doc_id") % 3 === 2), inc)
    assert(hits(inc) == want, "three-generation incremental != rebuild")
    assert(PostingIndex.scan(spark, inc).select("gen").distinct().count() == 3)
    // a crashed writer's stage dir must be invisible to readers and
    // cleared by the next committer
    val fs = new org.apache.hadoop.fs.Path(inc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$inc/_stage/gen=9"))
    assert(hits(inc) == want, "stale stage dir leaked into the probe")
    // compaction: one merged generation in a NEW version, same values;
    // old version stays until vacuum, then only the live one remains
    PostingIndex.compact(spark, inc)
    assert(hits(inc) == want, "compaction changed values")
    assert(PostingIndex.scan(spark, inc).select("gen").distinct().count() == 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$inc/v0")))
    PostingIndex.vacuum(spark, inc)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$inc/v0")))
    assert(hits(inc) == want, "vacuum broke the live version")
    // appends keep working after compaction (next gen in the new root)
    PostingIndex.append(docs.limit(0), inc)
    assert(hits(inc) == want)
    // object-store crash window (VERDICT r14 #4): a PARTIAL gen dir —
    // a copy+delete "rename" dying mid-copy leaves it marker-less,
    // full of garbage — must be invisible to the scan and never
    // re-targeted by the next append
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(inc)).toSeq
      .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt).max
    val partial = new org.apache.hadoop.fs.Path(s"$inc/v$live/gen=9")
    fs.mkdirs(partial)
    val gout = fs.create(
      new org.apache.hadoop.fs.Path(partial, "part-00000.parquet"), true)
    gout.write("this is not a parquet file".getBytes("UTF-8")); gout.close()
    assert(hits(inc) == want, "partial gen dir leaked into the probe")
    PostingIndex.append(docs.limit(0), inc) // allocates gen=10, past the wreckage
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$inc/v$live/gen=10/_COMMITTED")))
    assert(hits(inc) == want)
    // guards: double-create refused; bucket meta round-trips
    val e = intercept[IllegalArgumentException](PostingIndex.create(docs, inc))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(PostingIndex.buckets(spark, inc) == 64)
    // single-writer ENFORCED: with the lock held by a (simulated) live
    // writer, a second writer spins then fails loudly with the lock's
    // age — and never mutates; releasing the lock re-admits writes and
    // the lock file does not outlive the operation
    val lockP = new org.apache.hadoop.fs.Path(s"$inc/_writer_lock")
    fs.create(lockP, false).close()
    val saved = PostingIndex.lockTimeoutMs
    try {
      PostingIndex.lockTimeoutMs = 300L
      val le = intercept[IllegalStateException](PostingIndex.append(docs.limit(0), inc))
      assert(le.getMessage.contains("writer lock") && le.getMessage.contains("age"),
        le.getMessage)
    } finally {
      PostingIndex.lockTimeoutMs = saved
      fs.delete(lockP, false)
    }
    PostingIndex.append(docs.limit(0), inc)
    assert(!fs.exists(lockP), "writer lock leaked past the operation")
    assert(hits(inc) == want)
  }

  test("winsorize by group: exact clamp bounds per group, pass-through inside") {
    import spark.implicits._
    import graft.operators.Curation
    // group g1: values 1..10 -> p10 = rank ceil(0.1*10)=1 -> 1.0,
    // p90 = rank 9 -> 9.0; g2: constant 5s -> both bounds 5.0
    val df = ((1 to 10).map(i => ("g1", i.toDouble)) ++
      Seq.fill(4)(("g2", 5.0))).toDF("g", "v")
    val w = Curation.winsorizeByGroup(df, Seq("g"), "v", 0.1, 0.9)
      .select("g", "v", "qlo", "qhi", "v_w").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val g1 = w.filter(_._1 == "g1")
    assert(g1.forall(r => r._3 == 1.0 && r._4 == 9.0), g1.mkString(", "))
    assert(g1.find(_._2 == 10.0).get._5 == 9.0)  // clamped down
    assert(g1.find(_._2 == 5.0).get._5 == 5.0)   // inside: pass-through
    val g2 = w.filter(_._1 == "g2")
    assert(g2.forall(r => r._3 == 5.0 && r._4 == 5.0 && r._5 == 5.0), g2.mkString(", "))
    val e = intercept[IllegalArgumentException](
      Curation.winsorizeByGroup(df, Seq("g"), "v", 0.9, 0.1))
    assert(e.getMessage.contains("pLo"), e.getMessage)
  }

  test("clustered split: near-dup components never straddle splits; plain id-hash does") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // components pairing consecutive ids: (1,2), (3,4), ... — the
    // component label is the min id, exactly Dedup.components' shape
    val comp = (1L to 400L by 2).flatMap(i => Seq((i, i), (i + 1, i)))
      .toDF("doc_id", "component")
    val assigned = Packing.splitAssignClustered(docs, comp).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("grp"), r.getAs[String]("split")))
    // every component wholly inside one split
    val byGrp = assigned.groupBy(_._2).values
    assert(byGrp.forall(_.map(_._3).distinct.size == 1))
    assert(assigned.forall { case (id, grp, _) => grp == (if (id % 2 == 1) id else id - 1) })
    // the plain id-hash split DOES leak on this fixture (what the
    // cluster-aware variant exists to prevent)
    val plain = Packing.splitAssign(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split")))
      .toMap
    val leaky = (1L to 400L by 2).count(i => plain(i) != plain(i + 1))
    assert(leaky > 0, "fixture too small to demonstrate the leak")
  }

  test("skew profile: exact counts, integer measures, null group, top-k order") {
    import spark.implicits._
    import graft.operators.Sketch
    // a=6, b=3, null=2, c=1 -> n_rows=12, n_keys=4
    val df = (Seq.fill(6)(Option("a")) ++ Seq.fill(3)(Option("b")) ++
      Seq.fill(2)(Option.empty[String]) ++ Seq(Option("c"))).toDF("k")
    val p = Sketch.skewProfile(df, "k", 3).collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(p.toSeq == Seq(
      (Some("a"), 6L, 12L, 4L, 500000L, 2000L),
      (Some("b"), 3L, 12L, 4L, 250000L, 1000L),
      (None, 2L, 12L, 4L, 166666L, 666L)))
    val e = intercept[IllegalArgumentException](Sketch.skewProfile(df, "k", 0))
    assert(e.getMessage.contains("topK"), e.getMessage)
  }

  test("salted join == plain equi-join; hot key spreads over salts; guards") {
    import spark.implicits._
    import graft.operators.Bucketing
    // one hot key holding 250 of 300 rows + 7 cold keys
    val large = (1L to 300L)
      .map(i => (if (i <= 250) "hot" else s"cold${i % 7}", i)).toDF("k", "id")
    val small = (Seq("hot" -> 10L) ++ (0 to 6).map(i => s"cold$i" -> (20L + i)))
      .toDF("kk", "w")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "id", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val salted = rows(Bucketing.saltedJoin(large, small, "k", "kk",
      Seq("hot"), 4, "id"))
    val plain = rows(large.join(small, col("k") === col("kk")))
    assert(salted == plain && plain.size == 300)
    // the salt expression actually spreads the hot rows (all 4 salts hit),
    // i.e. the hot reducer's volume really divides by nSalts
    val spread = large.where(col("k") === "hot")
      .select(pmod(xxhash64(col("id")), lit(4L)).as("s")).distinct().count()
    assert(spread == 4L)
    val e1 = intercept[IllegalArgumentException](
      Bucketing.saltedJoin(large, small, "k", "kk", Seq("hot"), 1, "id"))
    assert(e1.getMessage.contains("nSalts"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Bucketing.saltedJoin(large, small, "k", "kk", Nil, 4, "id"))
    assert(e2.getMessage.contains("hotKeys"), e2.getMessage)
  }

  test("flagship entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedupLines: first occurrence wins, order preserved, cross-doc independence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nshare\nbody two\nshare\nnav"),
      (2L, "nav"),          // single line, no dups
      (3L, ""),             // empty text -> one empty line
      (4L, null: String)    // JSONL drift: null text must NOT vanish
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.dedupLines(docs)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "nav\nbody one\nshare\nbody two"),
      (2L, "nav"),
      (3L, ""),
      (4L, "")))
  }

  test("asof backwardWithin: inclusive boundary kept, one past nulled, no-match stays null") {
    import spark.implicits._
    val left = Seq((1L, "u", 100L), (2L, "u", 111L), (3L, "v", 50L))
      .toDF("lid", "k", "t")
    val right = Seq(("u", 90L, "a"), ("u", 10L, "b")).toDF("k", "rt", "payload")
    val got = graft.operators.AsOfJoin
      .backwardWithin(left, right, Seq("k"), "t", "rt", tolerance = 10L)
      .orderBy("lid").select("lid", "payload").as[(Long, Option[String])]
      .collect().toSeq
    // lid 1: gap 10 == tolerance -> kept; lid 2: gap 21 -> nulled
    // (nearest is 90, not 10); lid 3: no right rows for key v -> null
    assert(got == Seq((1L, Some("a")), (2L, None), (3L, None)))
    // forward symmetry: next event within the bound
    val fwd = graft.operators.AsOfJoin
      .backwardWithin(left, right, Seq("k"), "t", "rt", tolerance = 9L)
      .orderBy("lid").select("lid", "payload").as[(Long, Option[String])]
      .collect().toSeq
    assert(fwd == Seq((1L, None), (2L, None), (3L, None))) // 10 > 9
    val fw = graft.operators.AsOfJoin
      .forwardWithin(Seq((1L, "u", 80L), (2L, "u", 95L)).toDF("lid", "k", "t"),
        right, Seq("k"), "t", "rt", tolerance = 10L)
      .orderBy("lid").select("lid", "payload").as[(Long, Option[String])]
      .collect().toSeq
    // lid 1: next is rt=90, gap 10 == tolerance -> kept
    // lid 2: next is rt... none >= 95 -> null
    assert(fw == Seq((1L, Some("a")), (2L, None)))
  }

  test("htmlExtract: block removal before tag strip, entity order, whitespace collapse") {
    import spark.implicits._
    val got = Seq(
      // a bare '<' inside script: naive tag-stripping would eat
      // "< 2) { x = 2; }</script><p>hi" as one tag — block-first keeps "hi"
      "<p>a</p><script>if (x < 2) { x = 2; }</script><p>hi</p>",
      // real web HTML mixes tag case: block removal must be (?i)
      "<SCRIPT>var s=1;</Script><STYLE>p{}</style><p>up</p>",
      // &amp;lt; must decode to the literal text "&lt;", not "<"
      "x &amp;lt; y &lt;b&gt;",
      // style block + attributes + multiline whitespace
      "<style a=\"b\">h1 { x: y; }</style>\n\n<h1\nclass=\"z\">t</h1>  end")
      .toDF("html")
      .select(graft.operators.TextAnalysis.htmlExtract(col("html")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a hi", "up", "x &lt; y <b>", "t end"))
  }

  test("urlFilter: first-hit-wins rule order, depth boundary, auditable reasons") {
    import spark.implicits._
    val got = Seq(
      ("http://x.bad/a/b/c/d/e/f/g?utm_source=1", "blocked_host"), // all 3 match -> rule 1
      ("http://ok.com/a/b/c/d/e/f?utm_source=1", "path_too_deep"), // 2+3 match -> rule 2
      ("http://ok.com/a/b/c/d/e?utm_source=1", "tracking_params"), // depth == 5 passes rule 2
      ("http://ok.com/a?id=1&session=z", "tracking_params"),
      ("http://ok.com/a/b/c/d/e", null),
      ("http://ok.com", null),
      ("http://ok.com/?x=utm_source", null), // utm_ as a VALUE, not a param
      // normalization: port, userinfo, case must not bypass the rules
      ("http://casino.bad:8080/", "blocked_host"),
      ("http://user:pw@casino.bad/", "blocked_host"),
      ("HTTP://Casino.BAD/", "blocked_host"),
      ("http://ok.com/a?UTM_Source=x", "tracking_params"),
      // fragment must terminate the host/path (ADVICE r14: '#frag'
      // riding in the host dodged the suffix match)
      ("http://casino.bad#frag", "blocked_host"),
      ("http://casino.bad#/a/b/c/d/e/f/g", "blocked_host"),
      ("http://ok.com/a#/b/c/d/e/f/g", null))
    val out = graft.operators.Curation.urlFilter(
        got.map(_._1).toDF("url"))
      .select("url", "reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for ((u, want) <- got) assert(out(u) == want, u)
  }

  test("every query runs at sf0.001 and every oracle key has a query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    for ((name, fn) <- qs) {
      val n = fn(spark, dir).count()
      assert(n >= 0, s"$name failed")
    }
  }
}
