package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Curation, Dedup, SimilaritySearch, TextAnalysis, VectorStore}

/** The offline half: batched top-k over a store of Gaussian-mixture
  * vectors, and the text-curation pipeline over a generated corpus.
  *
  * The timed phase first builds the store's IVF index (the maintenance
  * call), which commits a new store version. One `searchManyAnn` call
  * (packed codes, calibrated nprobe) then loads the new index version
  * and is reported apart. Then come `AnnRounds` timed `searchManyAnn`
  * calls (alt queries), cycling over `Rounds` fresh batches, and one
  * exact `searchMany` call (queries) per batch.
  * The store's rows spread over `Shards` tag sets by cluster, so the
  * exact scan reads that many partitions, each holding a few clusters.
  * Then come pipeline passes (`MinPasses`, more while the run length
  * has not passed), each one job: `Dedup.exact` and
  * `Curation.curate` (text stats, minhash near-dups and their connected
  * components inside), each materialized through the noop sink. The
  * traced run also times `Dedup.minhashNearDups`, `Dedup.components` and
  * `TextAnalysis.stats` on their own.
  *
  * Exact results are checked against brute force and ANN recall@10 is
  * measured against them. The corpus carries planted exact and near
  * duplicates: every exact group must keep one dedup keeper, the curated
  * corpus at most one copy of any planted group, and the share of
  * planted near pairs found is reported. */
object BatchPipeline extends Workload {
  val name = "batch_pipeline"

  val Rows = 6000
  /** Not a multiple of the 8 PQ subspaces: the index build then fits
    * the IVF lists only, which keeps it inside the run length. */
  val Dim = 60
  val Shards = 8
  val Centres = 24
  /** Well-separated clusters: the calibrated nprobe is 1 on every seed
    * tried. At 0.25 it ranged from 4 to 8 by seed, and the ANN work with it. */
  val Sigma = 0.1
  val Lists = 16
  val Batch = 64
  val K = 10
  /** Query batches, each answered once exactly. */
  val Rounds = 4
  /** ANN calls, cycling over the batches. A single ANN call varies by
    * 10-20 % within a run, so its median needs more samples; the exact
    * results of each batch are the recall truth. */
  val AnnRounds = 6
  val WarmBatches = 1
  val BaseDocs = 240
  val ExactGroups = 10
  val NearPairs = 10
  val MinPasses = 2

  /** One pipeline pass: exact dedup, then curation, which runs the
    * text stats, the minhash near-dup pairs and their components inside
    * the one call. */
  val Pass: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedup.exact" -> (d => Dedup.exact(d)),
    "curation.curate" -> (d => Curation.curate(d)))

  /** The stages `Curation.curate` composes, called one by one in the
    * traced run to attribute a pass to its operators. */
  val Parts: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedup.minhash" -> (d => Dedup.minhashNearDups(d)),
    "dedup.components" -> (d => Dedup.components(Dedup.minhashNearDups(d))),
    "text.stats" -> (d => TextAnalysis.stats(d)))

  final class Data(seed: Long) {
    val cs = Gen.centres(seed, Centres, Dim)
    private val r = Gen.rng(seed, "batch.rows")
    private val vs = Gen.labelled(r, cs, Rows, Sigma)
    // a row's tag set follows its cluster, as topic tags follow content:
    // each of the `Shards` partitions holds 3 of the 24 clusters
    val rows = Gen.rows(r, 0L, vs.map(_._2), i => {
      val shard = vs(i)._1 % Shards
      Seq(Gen.Langs(shard % Gen.Langs.size), s"shard:${shard / Gen.Langs.size}")
    })
    val cands: Array[(Long, Array[Float])] = rows.map(x => (x.id, x.vector)).toArray
    private val qr = Gen.rng(seed, "batch.queries")
    def batch(): Seq[Array[Float]] = Gen.mixture(qr, cs, Batch, Sigma).toSeq
    val corpus = Gen.corpus(seed, BaseDocs, ExactGroups, NearPairs)
  }

  def docsFrame(spark: SparkSession, c: Gen.Corpus): DataFrame = {
    import spark.implicits._
    c.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val t0 = System.nanoTime()
    val data = new Data(seed)
    val df = Workload.frame(spark, data.rows)
    val docs = docsFrame(spark, data.corpus)
    val genS = Workload.secs(t0)
    val t1 = System.nanoTime()
    val store = new VectorStore(spark, s"$dir/store")
    store.insert(df, quantize = true)
    val seedS = Workload.secs(t1)
    new Prepared {
      val setupParts = (genS, seedS)
      private var pipeline = Pipeline(Nil, Double.NaN)
      // the exact path, and the pipeline oracles, which run every stage
      // of a pass on the timed corpus; the index build runs once per
      // run, timed, and the first ANN round pays its first use
      def warmUp(): Unit = {
        val wr = Gen.rng(seed, "batch.warm")
        (1 to WarmBatches).foreach(_ => store.searchMany(
          Workload.queryFrame(spark, Gen.mixture(wr, data.cs, Batch, Sigma).toSeq), K).collect())
        pipeline = pipelineChecks(data.corpus, docs)
      }
      def run(trace: Trace, seconds: Double): Outcome =
        offline(spark, data, docs, store, pipeline, trace, seconds)
    }
  }

  private def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[(Long, Double)]] =
    rows.map(r => (r.getAs[Long]("qid"), (r.getAs[String]("id").toLong, r.getAs[Double]("similarity"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  /** Oracle verdicts on the pipeline's output, and the share of
    * planted near pairs it found. */
  final case class Pipeline(checks: Seq[(String, Option[String])], dupRecall: Double)

  /** The pipeline oracles, on the corpus the timed passes process: every
    * planted exact-duplicate group keeps one dedup keeper, and the
    * curated corpus keeps at most one copy of any planted group. A
    * planted near pair counts as found when the curated corpus keeps at
    * most one of its two docs. */
  def pipelineChecks(corpus: Gen.Corpus, docs: DataFrame): Pipeline = {
    val exact = Dedup.exact(docs).collect().map(r => (r.getAs[Long]("keeper"), r.getAs[Long]("group_size")))
    val keepers = corpus.exactGroups.map(g =>
      "exact-duplicate group keeps one keeper" ->
        (if (exact.count(e => g.contains(e._1)) == 1 && exact.contains((g.min, g.size.toLong))) None
         else Some(s"group of ${g.size} at ${g.min}")))
    val survivors = Curation.curate(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    val nearSets = corpus.nearPairs.map { case (a, b) => Set(a, b) }
    val copies = (corpus.exactGroups ++ nearSets).map(g =>
      "curated corpus keeps at most one copy" ->
        (if (g.count(survivors) <= 1) None else Some(s"group at ${g.min} kept ${g.count(survivors)}")))
    Pipeline(keepers ++ copies, nearSets.count(_.count(survivors) <= 1).toDouble / nearSets.size)
  }

  private def offline(spark: SparkSession, data: Data, docs: DataFrame, store: VectorStore,
                      pipeline: Pipeline, trace: Trace, seconds: Double): Outcome = {
    val out = new Outcome
    for ((what, problem) <- pipeline.checks) out.check(what, problem)
    val recalls = mutable.ArrayBuffer[Double]()
    val stageMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val t0 = System.nanoTime()
    val batches = (1 to Rounds).map { _ =>
      val qs = data.batch()
      (qs, Workload.queryFrame(spark, qs))
    }
    val (_, buildMs) = Workload.timed(
      trace.request("build")(trace.span("store.buildAnnIndex")(store.buildAnnIndex(Lists)))(_ => 0L))
    out.maintenanceS = buildMs / 1000.0
    // the first ANN call after the build loads the new index version; it
    // is reported apart, so the gated median is over warm calls only
    val firstAnnMs = Workload.timed(
      store.searchManyAnn(batches.head._2, K, quantized = true).collect())._2
    val annHits = (0 until AnnRounds).map { i =>
      val (ann, ms) = Workload.timed {
        trace.request("searchManyAnn") {
          trace.collect(trace.span("store.searchManyAnn")(
            store.searchManyAnn(batches(i % Rounds)._2, K, quantized = true)))
        }(_.length.toLong)
      }
      out.altQueries += ms
      ann
    }
    // the exact batches run last, when the scan, kernel and top-k code
    // the ANN calls share with them is warm
    for (((qs, qdf), i) <- batches.zipWithIndex) {
      val (exact, ms) = Workload.timed {
        trace.request("searchMany") {
          trace.collect(trace.span("store.searchMany")(store.searchMany(qdf, K)))
        }(_.length.toLong)
      }
      out.queries += ms
      val ex = byQuery(exact)
      qs.indices.foreach(q => out.check("exact top-k", Oracle.checkTopK(qs(q), data.cands, K, ex.getOrElse(q.toLong, Nil))))
      // recall of the ANN call that first answered this batch
      val an = byQuery(annHits(i))
      for ((qid, got) <- ex) {
        val truth = got.map(_._1).toSet
        recalls += an.getOrElse(qid, Nil).count(h => truth.contains(h._1)).toDouble / math.max(1, truth.size)
      }
    }
    // pipeline passes until the run length has passed
    while (out.jobs.size < MinPasses || Workload.secs(t0) < seconds) {
      var pass = 0.0
      for ((stage, f) <- Pass) {
        val ms = Workload.timed(trace.request(stage)(trace.noop(f(docs)))(_ => 0L))._2
        stageMs.getOrElseUpdate(stage, mutable.ArrayBuffer()) += ms
        pass += ms
      }
      out.jobs += pass
      out.jobItems += data.corpus.docs.size
    }
    out.stop()
    out.recall = recalls.sum / recalls.size

    val corpus = data.corpus
    val userBytes = data.rows.map(_.userBytes).sum
    out.bytesPerUserByte = Workload.listing(spark, store.root).values.sum.toDouble / userBytes
    out.named("index_build_s") = (out.maintenanceS, "s")
    out.named("exact_batch_qps") = (Batch / (Stats.median(out.queries.toSeq) / 1000.0), "1/s")
    out.named("ann_batch_qps") = (Batch / (Stats.median(out.altQueries.toSeq) / 1000.0), "1/s")
    out.named("ann_first_batch_ms") = (firstAnnMs, "ms")
    out.named("ann_nprobe") = (store.annCalibratedNprobe.getOrElse(0).toDouble, "count")
    out.named("ann_recall_at_10") = (out.recall, "ratio")
    out.named("rounds") = (out.queries.size.toDouble, "count")
    out.named("curate_docs_per_s") = (out.jobItems / (out.jobs.sum / 1000.0), "1/s")
    out.named("dup_pair_recall") = (pipeline.dupRecall, "ratio")
    out.named("passes") = (out.jobs.size.toDouble, "count")
    out.named("docs") = (corpus.docs.size.toDouble, "count")
    if (trace.on) {
      out.layers("ann.index_build_s") = out.maintenanceS
      out.layers("ann.nprobe") = store.annCalibratedNprobe.getOrElse(0).toDouble
      val annReqs = trace.reqs.filter(_.kind == "searchManyAnn")
      out.layers("ann.rows_scanned_per_query") = annReqs.map(_.scan.rows).sum / (annReqs.size * Batch)
      out.layers("ann.kmeans_s") = Workload.timed(SimilaritySearch.kmeansCentroids(
        store.table().select(col("vector").as("embedding")), Lists))._2 / 1000.0
      val (files, bytes) = Workload.liveStorage(store)
      out.layers("storage.files_live") = files.toDouble
      out.layers("storage.bytes_live") = bytes.toDouble
      out.layers("storage.partitions_live") = data.rows.map(_.tags).toSet.size.toDouble
      Workload.kernelProbe(spark, store, data.batch().take(Workload.ProbeQueries), out)
      for ((s, ms) <- stageMs) out.layers(s"${s}_s") = Stats.median(ms.toSeq) / 1000.0
      for ((s, f) <- Parts)
        out.layers(s"${s}_s") = Workload.timed(trace.request(s)(trace.noop(f(docs)))(_ => 0L))._2 / 1000.0
      // candidate and verified pairs of the minhash stage, over the
      // exact-dedup representatives it runs on
      val reps = docs.join(Dedup.exact(docs).select(col("keeper").as("doc_id")), "doc_id")
      val sh = Dedup.shingles(reps).cache()
      val cand = Dedup.lshCandidates(Dedup.minhashSignatures(sh)).cache()
      val nCand = cand.count().toDouble
      val nVer = Dedup.jaccard(sh, Some(cand))
        .where(col("j") >= graft.OracleSql.JaccardThreshold).count().toDouble
      cand.unpersist(); sh.unpersist()
      out.layers("dedup.candidate_pairs") = nCand
      out.layers("dedup.verified_pairs") = nVer
      out.layers("dedup.verify_yield") = if (nCand > 0) nVer / nCand else 0.0
      val ms = (1 to 3).map { _ =>
        Workload.timed(Dedup.minhashSignatures(Dedup.shingles(docs))
          .write.format("noop").mode("overwrite").save())._2
      }
      out.layers("kernel.minhash_docs_per_s") = corpus.docs.size / (Stats.median(ms) / 1000.0)
    }
    out
  }
}
