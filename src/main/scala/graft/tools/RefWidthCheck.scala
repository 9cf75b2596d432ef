package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Pca

/**
 * Reference-dimensionality PCA scale check (VERDICT r11 next #5).
 *
 * The reference fits k=500 over 1536-d vectors (decomposition.rs:88-102
 * is invoked from db.rs:290 with the ada-002 width used by
 * www/src/index.ts), but the parity suite only ever fits k=8 over the
 * d=64 fixture — so the d x d driver Gramian, the LAPACK eig at real
 * width (1536^2 covariance, 1536^3 eig), and the ~d*k plan-constant
 * basis broadcast were all unproven at the width a reference user would
 * bring. This check fits and reprojects at exactly that width and
 * reports timings + numeric invariants; Bench splices the JSON into the
 * round artifact (`pca_scale`).
 *
 * The input is synthesized (deterministic per-row seeds, mild
 * anisotropy so the spectrum is well-defined); the fixture tables never
 * carry 1536-d vectors and the check's subject is the ENGINE path, not
 * the data.
 */
object RefWidthCheck {

  val D = 1536
  val K = 500
  val N = 20000L

  /** Run the check; returns a one-object JSON fragment. Throws on an
    * invariant violation (callers decide whether that kills the run —
    * Bench records it as an error field instead). */
  def pcaAtRefDims(spark: SparkSession): String = {
    import spark.implicits._
    val d = D
    // deterministic per-id gaussian with a decaying per-dim scale:
    // dim j has stddev (1 + 8/(1+j)) so the spectrum is anisotropic
    // and the top-k basis is meaningful, not arbitrary rotation noise
    val df = spark.range(0L, N, 1L, 32).as[Long].map { id =>
      val rnd = new scala.util.Random(id * 2654435761L + 987654321L)
      val v = new Array[Float](d)
      var j = 0
      while (j < d) {
        v(j) = (rnd.nextGaussian() * (1.0 + 8.0 / (1 + j))).toFloat
        j += 1
      }
      (id, v)
    }.toDF("id", "vec").localCheckpoint() // materialize: time fit, not gen

    val t0 = System.nanoTime()
    val model = Pca.fit(df, "vec", K)
    val fitSec = (System.nanoTime() - t0) / 1e9
    require(model.d == D && model.k == K,
      s"graft: scalecheck fit shape ${model.d}x${model.k}, wanted ${D}x$K")

    // basis orthonormality on the driver: B^T B vs I (columns of the
    // covariance eig must be orthonormal; a broken eig shows up here)
    var maxOff = 0.0; var maxDiagErr = 0.0
    var a = 0
    while (a < K) {
      var b = a
      while (b < K) {
        var s = 0.0; var i = 0
        while (i < D) { s += model.basis(i)(a) * model.basis(i)(b); i += 1 }
        if (a == b) maxDiagErr = math.max(maxDiagErr, math.abs(s - 1.0))
        else maxOff = math.max(maxOff, math.abs(s))
        b += 1
      }
      a += 1
    }
    require(maxOff < 1e-8 && maxDiagErr < 1e-8,
      s"graft: scalecheck basis not orthonormal (offdiag $maxOff, diag err $maxDiagErr)")

    // distributed reprojection at real width: the ProjectVector
    // expression ships the 1536x500 basis as a task constant
    val proj = Pca.projector(spark, model, "graft_scalecheck_project")
    val t1 = System.nanoTime()
    val agg = df.select(proj(col("vec")).as("p"))
      .select(sum(element_at(col("p"), 1).cast("double")).as("s"),
        count(lit(1)).as("n")).head()
    val projSec = (System.nanoTime() - t1) / 1e9
    require(agg.getLong(1) == N, s"graft: scalecheck projected ${agg.getLong(1)} of $N")

    // bit parity: one row through the distributed expression vs the
    // driver-side single-vector path (the search-time twin)
    val row = df.where(col("id") === 7L)
      .select(col("vec"), proj(col("vec")).as("p")).head()
    val got = row.getSeq[Float](1).toArray
    val want = Pca.projectOne(model, row.getSeq[Float](0))
    require(java.util.Arrays.equals(got, want),
      "graft: scalecheck distributed/driver projection mismatch")

    f"""{"d":$D,"k":$K,"n":$N,"fit_sec":$fitSec%.3f,"project_sec":$projSec%.3f,"ortho_max_offdiag":$maxOff%.2e,"parity_ok":true}"""
  }

  /**
   * Fuzzy-join vocabulary-scale check (VERDICT r11 next #6): the parity
   * fixture's token vocabulary is ~31 types, so the deletion-variant
   * fan-out and hot-bucket guards were never exercised at the scale
   * they exist for. Synthesizes a ~50k-key vocabulary with a realistic
   * shape — 80% independent random words (length 3-12), 20% built on
   * ~200 shared stems so deletion variants actually collide — then
   * records the [[graft.operators.FuzzyJoin.profile]] counters at d=1
   * and d=2 and times the full d=2 self-join. The counters are the
   * measured calibration for maxLen/maxBucket.
   */
  def fuzzyAtVocabScale(spark: SparkSession): String = {
    import spark.implicits._
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val nGen = 50000L
    val vocab = spark.range(0L, nGen, 1L, 32).as[Long].map { id =>
      val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 7L)
      def word(len: Int): String =
        Array.fill(len)(letters(rnd.nextInt(26))).mkString
      if (rnd.nextInt(5) == 0) {
        // stem + short suffix: many keys share long prefixes, so their
        // deletion neighborhoods overlap — the hot-bucket regime
        val stemRnd = new scala.util.Random(rnd.nextInt(200) * 1299709L)
        val stem = Array.fill(6)(letters(stemRnd.nextInt(26))).mkString
        stem + word(1 + rnd.nextInt(4))
      } else word(3 + rnd.nextInt(10))
    }.toDF("k").localCheckpoint()

    val p1 = graft.operators.FuzzyJoin.profile(vocab, "k", d = 1)
    val p2 = graft.operators.FuzzyJoin.profile(vocab, "k", d = 2)
    val t0 = System.nanoTime()
    val pairs = graft.operators.FuzzyJoin.selfJoin(vocab, "k", d = 2,
      maxBucket = math.max(100000L, p2.maxBucket + 1L)).count()
    val joinSec = (System.nanoTime() - t0) / 1e9
    def pj(p: graft.operators.FuzzyJoin.Profile): String =
      f"""{"keys":${p.keys},"max_key_len":${p.maxKeyLen},"variants":${p.variants},"fan_out_avg":${p.fanOutAvg}%.2f,"max_bucket":${p.maxBucket},"candidate_pairs":${p.candidatePairs}}"""
    f"""{"d1":${pj(p1)},"d2":${pj(p2)},"d2_join_sec":$joinSec%.3f,"d2_pairs":$pairs}"""
  }

  /** BPE merge training at realistic dictionary scale: the fixture
    * corpus carries a ~31-word vocabulary, so the suite rows never
    * exercise the iteration cost the design exists for — a ~1M
    * distinct-word dictionary (the web-corpus regime where the
    * vocab-bound formulation is the difference between feasible and
    * not). Synthesize one (deterministic words, Zipf-ish weights,
    * 3-12 chars), train 8 merges on the bounded-lineage path, learn a
    * 4096-piece WordPiece vocab over the same dictionary, and report
    * timings; Bench splices the JSON into the artifact (`bpe_scale`)
    * so the numbers are tracked per round like `pca_scale`. */
  def bpeAtVocabScale(spark: SparkSession): String = {
    import spark.implicits._
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val nGen = 1200000L
    val words = spark.range(0L, nGen, 1L, 32).as[Long].map { id =>
      val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 11L)
      val len = 3 + rnd.nextInt(10)
      (Array.fill(len)(letters(rnd.nextInt(26))).mkString,
        1L + nGen / (id + 1L)) // Zipf-ish head
    }.toDF("word", "w").groupBy("word").agg(sum("w").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nWords = words.count() // materialize the dictionary
      val t0 = System.nanoTime()
      val merges = graft.operators.Bpe.train(words, 8, checkpointEvery = 4)
      val trainSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val vocab = graft.operators.Bpe.pieceVocab(words, maxLen = 4, topV = 4096)
      val pieceSec = (System.nanoTime() - t1) / 1e9
      require(merges.size == 8 && vocab.size > 4096,
        s"graft: bpe scale check degenerate (merges=${merges.size}, vocab=${vocab.size})")
      f"""{"dict_words":$nWords,"merges":${merges.size},"train_sec":$trainSec%.3f,"top_merge_weight":${merges.head.weight},"wordpiece_vocab":${vocab.size},"piece_vocab_sec":$pieceSec%.3f}"""
    } finally words.unpersist(blocking = false)
  }

  /** WARC ingestion at volume: the fixture rows parse a few MB, which
    * says nothing about the format's 100 TB behavior — this check
    * writes ~40k documents (~4 KB each, ~160 MB raw) as per-record-
    * gzip `.warc.gz` shards DISTRIBUTED (one shard per partition, the
    * production export shape) and times the distributed read, cold +
    * steady. The interesting number is read MB/s of raw content: the
    * reader's cost is gunzip + framing scan, both linear, and one task
    * per shard file is the industry parallelism grain — throughput
    * here is what a 1000-executor cluster would see per core. */
  def warcAtVolumeScale(spark: SparkSession): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-scale").toString
    val nDocs = 40000L
    val wordsPerDoc = 600
    try {
    val t0 = System.nanoTime()
    spark.range(0L, nDocs, 1L, 32).as[Long].foreachPartition { (ids: Iterator[Long]) =>
      if (ids.hasNext) {
        val first = ids.next()
        val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(
          s"$dir/shard-${"%08d".format(first)}.warc.gz"), 1 << 20)
        try (Iterator(first) ++ ids).foreach { id =>
          val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 5L)
          val sb = new StringBuilder(wordsPerDoc * 7)
          var i = 0
          while (i < wordsPerDoc) {
            if (i > 0) sb.append(' ')
            val len = 3 + rnd.nextInt(8)
            var j = 0
            while (j < len) { sb.append(('a' + rnd.nextInt(26)).toChar); j += 1 }
            i += 1
          }
          val rec = graft.sources.Warc.renderRecord("response",
            f"00000000-0000-4000-8000-$id%012d", s"http://x.local/doc/$id",
            "2026-01-01T00:00:00Z",
            sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.write(graft.sources.Warc.gzipMember(rec))
        } finally out.close()
      }
    }
    val writeSec = (System.nanoTime() - t0) / 1e9
    val gzBytes = new java.io.File(dir).listFiles().map(_.length).sum
    def readOnce(): (Long, Long, Double) = {
      val t = System.nanoTime()
      val agg = graft.sources.Warc.readClean(spark, s"$dir/*")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("content_len"))).head()
      (agg.getLong(0), agg.getLong(1), (System.nanoTime() - t) / 1e9)
    }
    val (n1, raw1, cold) = readOnce()
    val (n2, _, s1) = readOnce()
    val (_, _, s2) = readOnce()
    require(n1 == nDocs && n2 == nDocs, s"graft: warc scale check lost records ($n1/$n2 of $nDocs)")
    // V2 metadata-only scan: column pruning reaches the parse (content
    // blocks skipped unread) — the economics a 100 TB crawl's metadata
    // queries actually pay. Same files, same steady protocol.
    def readMetaOnce(): (Long, Double) = {
      val t = System.nanoTime()
      val n = spark.read.format("graft-warc").load(s"$dir/*")
        .where(org.apache.spark.sql.functions.col("warc_type") === "response")
        .select("target_uri", "content_len")
        .count()
      (n, (System.nanoTime() - t) / 1e9)
    }
    val (m1, metaCold) = readMetaOnce()
    val (m2, meta1) = readMetaOnce()
    val (_, meta2) = readMetaOnce()
    require(m1 == nDocs && m2 == nDocs,
      s"graft: warc v2 metadata scan lost records ($m1/$m2 of $nDocs)")
    val metaSteady = math.min(meta1, meta2)
    val steady = math.min(s1, s2)
    val rawMb = raw1 / 1e6
    f"""{"docs":$nDocs,"raw_mb":$rawMb%.1f,"gz_mb":${gzBytes / 1e6}%.1f,"write_sec":$writeSec%.3f,"read_cold_sec":$cold%.3f,"read_steady_sec":$steady%.3f,"read_mb_per_sec":${rawMb / steady}%.1f,"v2_meta_cold_sec":$metaCold%.3f,"v2_meta_steady_sec":$metaSteady%.3f,"v2_meta_mb_per_sec":${rawMb / metaSteady}%.1f}"""
    } finally {
      // covers the write+read body too: a failed check must not leak
      // ~120 MB of shards into /tmp on every degraded protocol run
      val d = new java.io.File(dir)
      Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete(); ()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      if (args.isEmpty || args.contains("pca"))
        println("[scalecheck] pca " + pcaAtRefDims(spark))
      if (args.isEmpty || args.contains("fuzzy"))
        println("[scalecheck] fuzzy " + fuzzyAtVocabScale(spark))
      if (args.isEmpty || args.contains("bpe"))
        println("[scalecheck] bpe " + bpeAtVocabScale(spark))
      if (args.isEmpty || args.contains("warc"))
        println("[scalecheck] warc " + warcAtVolumeScale(spark))
    } finally spark.stop()
  }
}
