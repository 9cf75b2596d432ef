package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** Kernel golden values ported from the reference's own unit tests
  * (similarity: src/similarity.rs:45-85; codec: src/packed_vector.rs:57-169). */
class KernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vec(xs: Float*) = vecLit(xs)

  private def evalD(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c.as("v")).head().getDouble(0)

  test("shingle kernel == Column-form shingling (bigram pack + rolling-hash n-grams)") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a bb ccc dddd eeeee ff0 9 x"), // 1-5 char words, digits
      (2L, "one two"),                     // exactly 2 tokens
      (3L, "single"),                      // below the bigram floor
      (4L, ""),                            // no tokens
      (5L, "The QUICK the quick-the")      // case folding + punctuation split
    ).toDF("doc_id", "text")
    // the retired Column form, reconstructed inline as the spec
    def wcodeCol(w: org.apache.spark.sql.Column) = {
      val p = rpad(w, 4, " ")
      ascii(substring(p, 1, 1)).cast("long") * 2097152L +
        ascii(substring(p, 2, 1)).cast("long") * 16384L +
        ascii(substring(p, 3, 1)).cast("long") * 128L +
        ascii(substring(p, 4, 1)).cast("long")
    }
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val legacyBi = docs.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), transform(col("ws"), w => wcodeCol(w)).as("wcs"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("wcs")) - 1),
          i => element_at(col("wcs"), i) * 268435456L +
            element_at(col("wcs"), i + 1))).as("code"))
    assert(pairs(Dedup.shingleOccurrences(docs)) == pairs(legacyBi))
    val n = 3
    val legacyN = docs.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), transform(col("ws"), w => wcodeCol(w)).as("wcs"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("wcs")) - (n - 1)),
          i => (0 until n).foldLeft(lit(0L): org.apache.spark.sql.Column) {
            (acc, j) => (acc * 131L + element_at(col("wcs"), i + lit(j))) %
              graft.OracleSql.FingerprintP
          })).as("code"))
      .distinct()
    assert(pairs(Dedup.ngramCodes(docs, n)) == pairs(legacyN))
    assert(pairs(Dedup.shingleOccurrences(docs)).nonEmpty)
  }

  test("cosine golden values (reference src/similarity.rs:45-85)") {
    assert(math.abs(evalD(cosine(vec(1, 2, 3), vec(3, 2, 1))) - 0.7142857) < 1e-3)
    assert(math.abs(evalD(cosine(vec(1, 2, 3), vec(1, 2, 3))) - 1.0) < 1e-6)
    assert(math.abs(evalD(cosine(vec(1, 2, 3), vec(-1, -2, -3))) + 1.0) < 1e-6)
  }

  test("f32-parity kernels reproduce reference f32 arithmetic bit-for-bit (src/similarity.rs:10-43)") {
    def evalF(c: org.apache.spark.sql.Column): Float =
      spark.range(1).select(c.as("v")).head().getFloat(0)
    // reference cosine: f32 accumulation throughout
    def refCos(a: Array[Float], b: Array[Float]): Float = {
      var dot = 0f; var na = 0f; var nb = 0f
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na.toDouble).toFloat * math.sqrt(nb.toDouble).toFloat)
    }
    def refEuc(a: Array[Float], b: Array[Float]): Float = {
      var s = 0f
      for (i <- a.indices) { val d = a(i) - b(i); s += d * d }
      math.sqrt(s.toDouble).toFloat
    }
    val rng = new scala.util.Random(7)
    val a = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val b = Array.fill(64)(rng.nextFloat() * 2 - 1)
    assert(evalF(cosineF32(vec(1, 2, 3), vec(3, 2, 1))) == refCos(Array(1, 2, 3), Array(3, 2, 1)))
    assert(math.abs(evalF(cosineF32(vec(1, 2, 3), vec(3, 2, 1))) - 0.7142857f) < 1e-3)
    assert(evalF(cosineF32(vecLit(a.toSeq), vecLit(b.toSeq))) == refCos(a, b))
    assert(evalF(euclideanF32(vecLit(a.toSeq), vecLit(b.toSeq))) == refEuc(a, b))
    // and the f64 default stays within float noise of the f32 mode
    assert(math.abs(evalD(cosine(vecLit(a.toSeq), vecLit(b.toSeq)))
      - evalF(cosineF32(vecLit(a.toSeq), vecLit(b.toSeq)))) < 1e-5)
  }

  test("euclidean basic") {
    assert(math.abs(evalD(euclidean(vec(0, 0), vec(3, 4))) - 5.0) < 1e-9)
    assert(evalD(euclidean(vec(1, 2, 3), vec(1, 2, 3))) == 0.0)
  }

  test("dimension mismatch raises") {
    val ex = intercept[Exception] {
      spark.range(1).select(cosine(vec(1, 2), vec(1, 2, 3))).head()
    }
    assert(ex.getMessage != null)
  }

  test("cosine of zero vector is NaN (caller filters; reference panics)") {
    assert(evalD(cosine(vec(0, 0, 0), vec(1, 2, 3))).isNaN)
  }

  test("pack/unpack exact round-trip for constant + alternating vectors (src/packed_vector.rs:80-103)") {
    val cases = Seq(
      Array.fill(1024)(0f),
      Array.fill(1024)(1f),
      Array.tabulate(1024)(i => if (i % 2 == 0) 0f else 1f))
    for (v <- cases) {
      val df = Seq(Tuple1(v)).toDF("v")
      val out = df.select(unpack(pack(col("v"))).as("u")).head().getSeq[Float](0)
      assert(out.toArray.sameElements(v), s"round-trip failed for ${v.take(4).mkString(",")}...")
    }
  }

  test("quantization error bounds on seeded unit vector (src/packed_vector.rs:105-149)") {
    val rng = new scala.util.Random(42)
    val raw = Array.fill(1024)((rng.nextDouble() * 2000 - 1000).toFloat)
    val norm = math.sqrt(raw.map(x => x.toDouble * x).sum)
    val unit = raw.map(x => (x / norm).toFloat)
    val df = Seq(Tuple1(unit)).toDF("v")
    val u = df.select(unpack(pack(col("v"))).as("u")).head().getSeq[Float](0)
    val errs = unit.zip(u).map { case (a, b) => math.abs(a.toDouble - b.toDouble) }
    assert(errs.max < 5e-4, s"max err ${errs.max}")
    assert(errs.sum / errs.length < 2e-4, s"avg err ${errs.sum / errs.length}")
    // pack∘unpack idempotent
    val u2 = df.select(unpack(pack(unpack(pack(col("v"))))).as("u")).head().getSeq[Float](0)
    assert(u2 == u)
  }

  test("packed byte layout: 4x smaller than raw floats") {
    val df = Seq(Tuple1(Array.fill(1024)(0.5f))).toDF("v")
    val row = df.select(pack(col("v")).as("p")).select("p.data").head()
    assert(row.getAs[Array[Byte]](0).length == 1024) // vs 4096 raw
  }

  test("centroid kernels == retired HOF fold (argmin + probe, ties to lowest cid)") {
    import graft.operators.SimilaritySearch
    // codebook with a DUPLICATE centroid (cids 3 and 1 share a vector)
    // so the tie-break is exercised, plus an unsorted cid order so the
    // kernel's own ascending sort is load-bearing
    val codebook: Seq[(Long, Seq[Float])] = Seq(
      (3L, Seq(1f, 0f, 0f)), (0L, Seq(0f, 1f, 0f)),
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.5f, 0.5f, 0f)))
    val vecs = Seq(
      Seq(0.9f, 0.1f, 0f), Seq(0f, 0.99f, 0.1f), Seq(0.5f, 0.5f, 0.01f),
      Seq(1f, 0f, 0f), // exact tie between cids 1 and 3 -> keep 1
      Seq(-1f, -1f, -1f))
    val df = vecs.map(Tuple1(_)).toDF("v")
      .withColumn("v", col("v").cast("array<float>"))
    // the retired interpreted fold, reconstructed inline as the spec
    def legacyStruct(vec: org.apache.spark.sql.Column) = {
      val cents = array(codebook.sortBy(_._1).map { case (cid, cv) =>
        struct(lit(cid).as("cid"), vecLit(cv).as("cv"))
      }: _*)
      aggregate(
        cents,
        struct(lit(-1L).as("cid"), lit(Double.PositiveInfinity).as("dist")),
        (acc, c) => {
          val d = euclidean(col("v"), c.getField("cv"))
          when(d < acc.getField("dist"),
            struct(c.getField("cid").as("cid"), d.as("dist")))
            .otherwise(acc)
        })
    }
    val got = df.select(
      SimilaritySearch.nearestCentroidStruct(col("v"), codebook).as("a"))
      .select(col("a.cid"), col("a.dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val legacy = df.select(legacyStruct(col("v")).as("a"))
      .select(col("a.cid"), col("a.dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == legacy, s"kernel $got vs legacy $legacy")
    assert(got(3)._1 == 1L, "equal-dist tie must keep the lowest cid")
    // probe: top-nprobe by (dist, cid) == the sort-based Column form
    for (np <- Seq(1, 2, 4, 9)) {
      val gotP = df.select(SimilaritySearch.nearestCentroidsProbe(
        col("v"), codebook, np).as("p")).collect().map(_.getSeq[Long](0)).toSeq
      val legacyP = df.select({
        val cents = array(codebook.sortBy(_._1).map { case (cid, cv) =>
          struct(euclidean(col("v"), vecLit(cv)).as("dist"), lit(cid).as("cid"))
        }: _*)
        transform(slice(array_sort(cents), 1, np), c => c.getField("cid")).as("p")
      }).collect().map(_.getSeq[Long](0)).toSeq
      assert(gotP == legacyP, s"nprobe=$np: kernel $gotP vs legacy $legacyP")
    }
    // probe(1) head == argmin cid
    val p1 = df.select(SimilaritySearch.nearestCentroidsProbe(col("v"), codebook, 1).as("p"))
      .collect().map(_.getSeq[Long](0).head).toSeq
    assert(p1 == got.map(_._1))
  }

  /** Run `f` with expressions evaluated interpreted (NO_CODEGEN, no
    * whole-stage codegen) or compiled (CODEGEN_ONLY). */
  private def withCodegen[T](mode: String)(f: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> conf.getOption(k))
    conf.set(keys(0), mode)
    conf.set(keys(1), (mode == "CODEGEN_ONLY").toString)
    try f
    finally before.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("all-reference kernels: element i of graft_all_cosines and of a query batch's scores is the per-pair kernel against reference i, bit for bit, interpreted and compiled") {
    import graft.functions.QueryBatch
    val inf = Float.PositiveInfinity
    // references in unsorted id order: graft_all_cosines folds them by
    // ascending id, a query batch in its own (here: ascending) order
    val refs = Seq[(Long, Seq[Float])](
      (7L, Seq(1f, 2f, 3f)), (2L, Seq(-1f, 0.5f, 0f)), (5L, Seq(0f, 0f, 0f)), (3L, Seq(inf, 1f, 0f)))
    val vecs = Seq[Seq[Float]](Seq(0.3f, -2f, 5f), Seq(Float.NaN, 1f, 1f), Seq(inf, 0f, 1f),
      Seq(-inf, -inf, 2f), Seq(0f, 0f, 0f), null)
    // the empty dimension: empty vectors against empty references
    val emptyRefs = Seq[(Long, Seq[Float])]((4L, Nil), (1L, Nil))
    def bits(a: Seq[Double]) = a.map(java.lang.Double.doubleToRawLongBits)
    for ((rs, vs) <- Seq((refs, vecs), (emptyRefs, Seq(Nil, null)))) {
      val sorted = rs.sortBy(_._1)
      def batch(metric: String) = QueryBatch(spark, sorted.map(r => org.apache.spark.sql.Row(r._1, r._2)),
        org.apache.spark.sql.types.LongType, metric, None)
      val negEuclidean = (v: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) => -euclidean(v, r)
      val kernels = Seq(
        ("graft_all_cosines", call_function("graft_all_cosines", col("v"),
          array(rs.map(r => lit(r._1)): _*), array(rs.map(r => vecLit(r._2)): _*)), cosine _),
        ("cosine batch", QueryBatch.scores(col("v"), batch("cosine")), cosine _),
        ("euclidean batch", QueryBatch.scores(col("v"), batch("euclidean")), negEuclidean))
      for ((name, all, pair) <- kernels) {
        // repartition keeps the projection off the local relation, where
        // the optimizer would fold it (interpreted) before execution
        val scored = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
          .withColumn("v", col("v").cast("array<float>")).repartition(1)
          .select(col("i"), all.as("all"), array(sorted.map(r => pair(col("v"), vecLit(r._2))): _*).as("pairs"))
        val byMode = Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode =>
          withCodegen(mode)(scored.collect().sortBy(_.getLong(0)).map { r =>
            if (r.isNullAt(1)) {
              assert(r.getSeq[Any](2).forall(_ == null), s"$name: null vec, pairs ${r.get(2)}")
              None
            } else {
              val got = bits(r.getSeq[Double](1))
              assert(got == bits(r.getSeq[Double](2)), s"$name ($mode) row ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}")
              Some(got)
            }
          }.toSeq)
        }
        assert(byMode.head == byMode.last, s"$name: interpreted ${byMode.head} vs compiled ${byMode.last}")
        assert(byMode.head.count(_.isEmpty) == 1, s"$name: the null vec scores null")
      }
    }
  }

  test("term-counts kernel == Column-form per-term filter counts (r9 #2)") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "The vector MERGE merge filter x9 vector"), // repeats + case
      (2L, "merge-filter,vector"),                     // punctuation splits
      (3L, "nothing relevant here"),                   // zero hits
      (4L, ""),                                        // no tokens
      (5L, "vector vector vector")                     // single-term pileup
    ).toDF("doc_id", "text")
    val terms = Seq("vector", "merge", "filter", "x9", "absent")
    val kernel = docs.select(col("doc_id"),
      call_function("graft_term_counts",
        col("text"), array(terms.map(lit): _*)).as("tc")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val legacy = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
      .select(col("doc_id") +: size(col("ws")).cast("long").as("dl") +:
        terms.map(t => size(filter(col("ws"), w => w === lit(t))).cast("long").as(s"c_$t")): _*)
      .collect()
      .map(r => (r.getLong(0), (1 to terms.size + 1).map(r.getLong).toSeq)).toMap
    assert(kernel == legacy, s"kernel $kernel vs column-form $legacy")
    // analysis-time term-set validation: duplicates and empties rejected
    val dup = intercept[org.apache.spark.sql.AnalysisException](
      docs.select(call_function("graft_term_counts",
        col("text"), array(lit("a"), lit("a")))).collect())
    assert(dup.getMessage.contains("distinct"), dup.getMessage)
    val empty = intercept[org.apache.spark.sql.AnalysisException](
      docs.select(call_function("graft_term_counts",
        col("text"), array().cast("array<string>"))).collect())
    assert(empty.getMessage.contains("at least one"), empty.getMessage)
  }

  test("graft_ngram_codes rejects n < 1 at analysis time on the SQL surface (ADVICE r9 #2)") {
    Seq(1L -> "one two three").toDF("doc_id", "text")
      .createOrReplaceTempView("ngram_guard_docs")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_ngram_codes(text, 0) FROM ngram_guard_docs").collect())
    assert(e.getMessage.contains("n >= 1"), s"wrong error: ${e.getMessage}")
    // n = 1 stays legal (per-word rolling hash)
    val ok = spark.sql("SELECT graft_ngram_codes(text, 1) AS c FROM ngram_guard_docs")
      .head().getSeq[Long](0)
    assert(ok.length == 3)
  }

  test("cms estimate kernel: never underestimates, exact on skewed keys, analysis guards") {
    // hash-compat canary: the probe reads the SAME UTF-8 bytes the
    // count_min_sketch aggregate added — if the routes ever drifted,
    // estimates would be effectively random cell sums and the
    // >= exact-count property below would break on the rare keys
    val keys = (Seq.fill(500)("alpha") ++ Seq.fill(120)("beta") ++
      (0 until 300).map(i => s"rare_$i")).toDF("k")
    val row = keys.agg(
      count_min_sketch(col("k"), lit(0.001), lit(0.99), lit(42)).as("cms")).head()
    val bytes = row.getAs[Array[Byte]](0)
    val est = keys.groupBy("k").agg(count(lit(1)).as("n"))
      .withColumn("est", cmsEstimate(col("k"), bytes))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.forall { case (_, n, e) => e >= n },
      s"underestimate: ${est.filter { case (_, n, e) => e < n }.take(5).toSeq}")
    // at this eps/width the fixture estimates are exact for the heavy keys
    assert(est.filter(_._1 == "alpha").head._3 == 500L)
    assert(est.filter(_._1 == "beta").head._3 == 120L)
    // analysis-time guards: corrupt sketch bytes and a non-binary arg
    Seq("x").toDF("k").createOrReplaceTempView("cms_guard")
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_cms_estimate(k, CAST('junk' AS BINARY)) FROM cms_guard")
        .collect())
    assert(bad.getMessage.contains("deserialize"), bad.getMessage)
    val wrong = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_cms_estimate(k, 7) FROM cms_guard").collect())
    assert(wrong.getMessage.contains("binary literal sketch"), wrong.getMessage)
  }

  test("max-cosine kernel == Column-form per-reference max; ties keep lowest id") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val bench = Seq(
      (3L, vecs(5)._2),   // duplicated reference vector under two ids:
      (9L, vecs(5)._2),   // a querying row equal to it must report id 3
      (11L, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        call_function("graft_max_cosine", asVec(col("embedding")),
          array(bench.map(b => lit(b._1)): _*),
          array(bench.map(b => vecLit(b._2)): _*)).as("m"))
      .select(col("vec_id"), col("m.bid"), col("m.sim"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // Column-form expectation: max over explicit per-reference cosines
    val colForm = vecs.map { case (id, _) =>
      val sims = bench.map { case (bid, bv) =>
        (bid, df.where(col("vec_id") === id)
          .select(cosine(col("embedding"), vecLit(bv))).head().getDouble(0))
      }
      val best = sims.maxBy { case (bid, s) => (s, -bid) }
      (id, best)
    }.toMap
    assert(got == colForm, s"${got.toSeq.diff(colForm.toSeq).take(3)}")
    assert(got(5L)._1 == 3L, s"tie must keep lowest id, got ${got(5L)}")
  }

  test("bloom probe kernel: zero false negatives on long + string keys, analysis guards") {
    // correctness of bloomSemiJoin DEPENDS on put/probe hash-route
    // agreement: a drift would silently DROP real matches (unlike the
    // CMS, where drift only costs accuracy). Pin it for both key types.
    val longs = (0L until 2000L).map(i => i * 7919L).toDF("k")
    val bfL = longs.stat.bloomFilter("k", 2000L, 0.03)
    val bytesL = { val b = new java.io.ByteArrayOutputStream(); bfL.writeTo(b); b.toByteArray }
    assert(longs.where(!bloomContains(col("k"), bytesL)).count() == 0,
      "long keys: inserted key probed false")
    val strs = (0 until 2000).map(i => s"key_${i}_x").toDF("k")
    val bfS = strs.stat.bloomFilter("k", 2000L, 0.03)
    val bytesS = { val b = new java.io.ByteArrayOutputStream(); bfS.writeTo(b); b.toByteArray }
    assert(strs.where(!bloomContains(col("k"), bytesS)).count() == 0,
      "string keys: inserted key probed false")
    // fpp sanity: absent keys are mostly rejected (not all-true)
    val absent = (100000L until 102000L).map(i => i * 7919L + 1L).toDF("k")
    val fp = absent.where(bloomContains(col("k"), bytesL)).count()
    assert(fp < 400, s"bloom accepts far too much: $fp of 2000 absent keys")
    // analysis guards: corrupt bytes, unsupported key type
    Seq(1.5).toDF("k").createOrReplaceTempView("bloom_guard")
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_bloom_contains(CAST(1 AS BIGINT), CAST('junk' AS BINARY))")
        .collect())
    assert(bad.getMessage.contains("deserialize"), bad.getMessage)
    val wrong = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_bloom_contains(k, CAST('x' AS BINARY)) FROM bloom_guard")
        .collect())
    assert(wrong.getMessage.contains("bigint|string"), wrong.getMessage)
  }

  test("deletion-variant kernel: blocking completeness for planted edits, analysis guards") {
    import graft.functions.FuzzyKernel
    import org.apache.spark.unsafe.types.UTF8String
    def vars(s: String, d: Int): Set[String] = {
      val a = FuzzyKernel.deletionVariants(UTF8String.fromString(s), d)
      (0 until a.numElements()).map(a.getUTF8String(_).toString).toSet
    }
    // exact neighborhood contents, incl. doubled-letter dedupe
    assert(vars("ab", 1) == Set("ab", "b", "a"))
    assert(vars("aa", 1) == Set("aa", "a"), "doubled letter must dedupe")
    assert(vars("", 1) == Set(""))
    assert(vars("abc", 2) == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    // size bounds: |N_1| <= L+1, |N_2| <= 1 + L + C(L,2)
    val w = "abcdefgh"
    assert(vars(w, 1).size == w.length + 1)
    assert(vars(w, 2).size == 1 + w.length + w.length * (w.length - 1) / 2)
    // blocking completeness: every planted <=d edit shares a variant
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 0 until 200) {
      val base = randStr(3 + rnd.nextInt(8))
      val edits = Seq(
        { val i = rnd.nextInt(base.length) // substitution
          base.updated(i, ('a' + rnd.nextInt(4)).toChar) },
        { val i = rnd.nextInt(base.length + 1) // insertion
          base.substring(0, i) + ('a' + rnd.nextInt(4)).toChar + base.substring(i) },
        { val i = rnd.nextInt(base.length) // deletion
          base.substring(0, i) + base.substring(i + 1) })
      for (e <- edits) {
        assert(vars(base, 1).intersect(vars(e, 1)).nonEmpty,
          s"d=1 blocking miss: $base vs $e")
        // a second independent edit stays caught at d=2
        val i2 = rnd.nextInt(e.length)
        val e2 = e.updated(i2, ('a' + rnd.nextInt(4)).toChar)
        assert(vars(base, 2).intersect(vars(e2, 2)).nonEmpty,
          s"d=2 blocking miss: $base vs $e2")
      }
    }
    // SQL-surface analysis guards: d outside {1,2} and non-literal d
    Seq("alpha").toDF("k").createOrReplaceTempView("fuzzy_guard")
    val big = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_del_variants(k, 3) FROM fuzzy_guard").collect())
    assert(big.getMessage.contains("d in {1, 2}"), big.getMessage)
    val nonlit = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_del_variants(k, length(k)) FROM fuzzy_guard").collect())
    assert(nonlit.getMessage.contains("int literal"), nonlit.getMessage)
  }

  test("hash-embed token kernels == joined-text kernels over real chunk slices") {
    import graft.operators.TextAnalysis
    val he = graft.functions.HashingEmbedder(64)
    val rnd = new scala.util.Random(21)
    val words = Vector("the", "quick", "brown", "fox", "1234", "a", "zz9",
      "merge", "filter", "vector", "batch0")
    val docs = ((1L to 30L).map { i =>
      (i, (0 until rnd.nextInt(200)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" "))
    } :+ (98L, "") :+ (99L, "Mixed-CASE punct,uation! splits 42x")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2))).toSeq
        .sortBy(t => (t._1, t._2))
    // the chunk_text path (array_join + re-tokenize inside the kernel)
    // is the spec; the token-slice path must match it bit for bit
    val viaText = rows(TextAnalysis.chunk(docs).select(col("doc_id"),
      col("chunk_idx"), he.embed(col("chunk_text"))))
    val viaToks = rows(TextAnalysis.chunkTokenSlices(docs).select(col("doc_id"),
      col("chunk_idx"), he.embedTokens(col("chunk_toks"))))
    assert(viaToks == viaText)
    assert(viaToks.nonEmpty && viaToks.exists(_._3.exists(_ != 0f)))
    val cText = rows(TextAnalysis.chunk(docs).select(col("doc_id"),
      col("chunk_idx"), he.counts(col("chunk_text"))))
    val cToks = rows(TextAnalysis.chunkTokenSlices(docs).select(col("doc_id"),
      col("chunk_idx"), he.countsTokens(col("chunk_toks"))))
    assert(cToks == cText)
  }

  test("band-keys kernel == retired HOF sign-bucket fold (banding, single bucket, null vec)") {
    import graft.operators.SimilaritySearch
    val d = 8; val bands = 4; val rows = 4
    val rnd = new scala.util.Random(7)
    val data = (1L to 40L).map(i =>
      (i, (0 until d).map(_ => (rnd.nextFloat() - 0.5f) * 4f))) :+
      (98L, Seq.fill(d)(0f)) :+ // zero vector: every dot == 0.0, no bit set
      (96L, Seq.tabulate(d)(j => if (j == 3) Float.NaN else 0.5f)) // every dot NaN
    // a null ELEMENT nulls every dot of its vector under Spark's
    // arithmetic: the retired column left each bit unset
    val nullElem = spark.range(1).select(lit(97L).as("vec_id"),
      array((0 until d).map(j => if (j == 3) lit(null).cast("float") else lit(0.5f)): _*)
        .as("embedding"))
    val emb = data.toDF("vec_id", "embedding")
      .union(Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
      .union(nullElem)
    val ps = SimilaritySearch.planes(d, bands * rows)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val got = rowsOf(SimilaritySearch.bandedKeys(emb, "embedding", d, bands, rows)
      .select("vec_id", "band", "key"))
    // the retired per-band HOF explode, reconstructed inline as the spec
    val legacy = rowsOf(emb.select(col("vec_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            SimilaritySearch.signBucketFromPlanesHof(col("embedding"),
              ps.slice(b * rows, (b + 1) * rows)).as("key"))
        }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key")))
    assert(got == legacy)
    assert(got.size == 44 * bands && got.exists(_._3 != 0L),
      "banding must keep every row (null vec hashes to key 0) and set some bits")
    // Spark's comparison, pinned: NaN > 0.0 sets every bit, a null
    // element sets none — in the compiled and the interpreted kernel
    val allBits = (1L << rows) - 1
    assert(got.filter(_._1 == 96L).map(_._3) == Seq.fill(bands)(allBits))
    assert(got.filter(_._1 == 97L).map(_._3) == Seq.fill(bands)(0L))
    locally {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
      val e = graft.functions.BandKeysExpr(
        BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true),
        Literal.create(ps, ArrayType(ArrayType(DoubleType))), Literal(rows))
      def keys(v: Array[Any]) = e.eval(InternalRow(new GenericArrayData(v)))
        .asInstanceOf[GenericArrayData].toLongArray().toSeq
      assert(keys(Array.tabulate[Any](d)(j => if (j == 3) Float.NaN else 0.5f)) == Seq.fill(bands)(allBits))
      assert(keys(Array.tabulate[Any](d)(j => if (j == 3) null else 0.5f)) == Seq.fill(bands)(0L))
    }
    // the single-bucket surface (ann_lsh path) agrees with the HOF spec too
    val one = emb.where(col("embedding").isNotNull).select(
      SimilaritySearch.signBucket(col("embedding"), d).as("k"),
      SimilaritySearch.signBucketFromPlanesHof(col("embedding"),
        SimilaritySearch.planes(d)).as("kh")).collect()
    assert(one.nonEmpty && one.forall(r => r.getLong(0) == r.getLong(1)))
    // analysis guards: non-multiple plane count, rows out of range
    val bad = intercept[Exception](spark.range(1).select(
      call_function("graft_band_keys",
        typedLit(Seq.fill(d)(0.1f)), typedLit(ps.take(3)), lit(2))).collect())
    assert(bad.getMessage.contains("multiple"), bad.getMessage)
    val badRows = intercept[Exception](spark.range(1).select(
      call_function("graft_band_keys",
        typedLit(Seq.fill(d)(0.1f)), typedLit(ps), lit(0))).collect())
    assert(badRows.getMessage.contains("rows"), badRows.getMessage)
  }

  test("band-keys kernel takes rows == 64: the full-long key == signBucketOf, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    import graft.operators.SimilaritySearch
    val d = 8
    val ps = SimilaritySearch.planes(d, 64)
    val e = graft.functions.BandKeysExpr(
      BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true),
      Literal.create(ps, ArrayType(ArrayType(DoubleType))), Literal(64))
    assert(e.checkInputDataTypes().isSuccess)
    val compiled = GenerateUnsafeProjection.generate(Seq(e))
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(40)((0 until d).map(_ => (rnd.nextFloat() - 0.5f) * 4f))
    val want = vs.map(v => SimilaritySearch.signBucketOf(v, d, 64))
    def row(v: Seq[Float]) = InternalRow(new GenericArrayData(v.toArray))
    val interpreted = vs.map(v => e.eval(row(v)).asInstanceOf[GenericArrayData].getLong(0))
    val codegen = vs.map(v => compiled(row(v)).getArray(0).getLong(0))
    assert(interpreted == want)
    assert(codegen == want)
    assert(want.exists(_ < 0L), "some key must carry bit 63")
    // and the SQL surface accepts 64 rows at analysis
    val sql = spark.range(1).select(call_function("graft_band_keys",
      typedLit(vs.head), typedLit(ps), lit(64))).head().getSeq[Long](0)
    assert(sql == Seq(want.head))
  }

  test("pair kernel == retired HOF form (index-ordered pairs, empty/singleton, guards)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 100).map { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ => rnd.nextLong() % 1000).toArray)
    }
    val df = rows.toDF("id", "items")
    df.createOrReplaceTempView("pair_kernel_t")
    val hof = df.selectExpr("id",
      "flatten(transform(items, (x, i) -> " +
        "transform(slice(items, i + 2, size(items)), y -> struct(x AS a, y AS b)))) AS ps")
    val kern = spark.sql("SELECT id, graft_pairs(items) AS ps FROM pair_kernel_t")
    val h = hof.orderBy("id").collect().map(_.toString)
    val k = kern.orderBy("id").collect().map(_.toString)
    assert(h.sameElements(k), s"${h.take(3).mkString} vs ${k.take(3).mkString}")
    // counts: n*(n-1)/2, including n in {0, 1}
    for ((id, items) <- rows) {
      val n = items.length
      val got = kern.where($"id" === id).selectExpr("size(ps)").head().getInt(0)
      assert(got == n * (n - 1) / 2, s"id=$id n=$n got=$got")
    }
    // analysis guard: non-long arrays rejected
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_pairs(array('a', 'b'))").collect())
    assert(bad.getMessage.contains("array<bigint>"), bad.getMessage)
  }

  test("packed pair kernel: decode == struct kernel, uint32 range guard, primitive output") {
    import spark.implicits._
    // nonneg < 2^32 ids (the packed kernel's contract)
    val rnd = new scala.util.Random(17)
    val rows = (0 until 80).map { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ => rnd.nextInt(1 << 20).toLong).toArray)
    }
    val df = rows.toDF("id", "items")
    val viaStruct = df.selectExpr("id",
        "explode(graft_pairs(items)) AS p")
      .selectExpr("id", "p.a AS a", "p.b AS b")
      .orderBy("id", "a", "b").collect().map(_.toString)
    val viaPacked = df.selectExpr("id",
        "explode(graft_pairs_packed(items)) AS pp")
      .selectExpr("id", "shiftright(pp, 32) AS a",
        "pp & 4294967295 AS b")
      .orderBy("id", "a", "b").collect().map(_.toString)
    assert(viaStruct.sameElements(viaPacked),
      s"${viaStruct.take(3).mkString} vs ${viaPacked.take(3).mkString}")
    // an id outside unsigned 32 bits must RAISE, never silently merge
    // distinct pairs
    val e = intercept[Exception](
      Seq((1L, Array(1L << 33, 2L))).toDF("id", "items")
        .selectExpr("graft_pairs_packed(items)").collect())
    assert(e.getMessage.contains("unsigned 32 bits")
        || String.valueOf(e.getCause).contains("unsigned 32 bits"),
      String.valueOf(e.getMessage).take(300))
  }

  test("pair kernel rank-distance cap: identity below cap, bounded chain on a degenerate 1e5 basket") {
    import graft.functions.{GraftFunctions, PairKernel, SortedPairs}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    def kernel(items: Array[Long], cap: Int): Seq[(Long, Long)] = {
      val out = PairKernel.sortedPairs(new GenericArrayData(items.map(_.asInstanceOf[Any])), cap)
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }
    }
    // cap >= n - 1: bit-identical to the uncapped all-pairs form
    val basket = Array(3L, 7L, 9L, 20L, 41L)
    val all = for (i <- basket.indices; j <- i + 1 until basket.length)
      yield (basket(i), basket(j))
    assert(kernel(basket, 4) == all)
    assert(kernel(basket, 1000) == all)
    // capped: exactly the pairs within rank distance cap, chain order
    val capped = kernel(basket, 2)
    val expected = for (i <- basket.indices;
                        j <- i + 1 until math.min(basket.length, i + 3))
      yield (basket(i), basket(j))
    assert(capped == expected)
    // degenerate hot basket (VERDICT r14 #3): 1e5 items — uncapped
    // would emit ~5e9 structs in one task (Int overflow + OOM death);
    // capped emits the exact O(w x cap) chain and completes
    val hot = Array.tabulate(100000)(_.toLong)
    val cap = SortedPairs.DefaultCap
    val n = hot.length.toLong
    val expectedLen = (n - cap) * cap + cap.toLong * (cap - 1) / 2
    val truncBefore = PairKernel.truncatedBaskets.sum()
    val got = PairKernel.sortedPairs(
      new GenericArrayData(hot.map(_.asInstanceOf[Any])), cap)
    assert(got.numElements().toLong == expectedLen, s"${got.numElements()} vs $expectedLen")
    // truncation is LOUD without opt-in (ADVICE r15 #1): the kernel
    // counts every capped basket (and WARNs in the executor log);
    // basketOverflow below stays the exact queryable signal
    assert(PairKernel.truncatedBaskets.sum() > truncBefore,
      "capped basket did not register in the truncation counter")
    // identity-range calls must NOT count as truncation
    val cleanBefore = PairKernel.truncatedBaskets.sum()
    kernel(basket, 1000)
    assert(PairKernel.truncatedBaskets.sum() == cleanBefore)
    // spot invariants: first pair (0,1); every pair within rank cap
    val first = got.getStruct(0, 2)
    assert(first.getLong(0) == 0L && first.getLong(1) == 1L)
    val last = got.getStruct(got.numElements() - 1, 2)
    assert(last.getLong(0) == n - 2 && last.getLong(1) == n - 1)
    // a cap that still emits > Int.MaxValue pairs raises loudly, never
    // a negative-size allocation
    val huge = new GenericArrayData(new Array[Any](0)) {
      override def numElements(): Int = 50000000 // 5e7 x 256 > IntMax
    }
    val err = intercept[IllegalArgumentException](PairKernel.sortedPairs(huge, cap * 256))
    assert(err.getMessage.contains("lower the cap"))
    // Spark-level: explode of a degenerate basket completes with the
    // bounded count, and the loud overflow counter sees it
    import spark.implicits._
    val df = Seq((1L, (0 until 20000).map(_.toLong))).toDF("id", "items")
    val cnt = df.select(explode(GraftFunctions.pairs($"items")))
      .count()
    assert(cnt == (20000L - cap) * cap + cap.toLong * (cap - 1) / 2)
    assert(GraftFunctions.basketOverflow(df, "items") == 1L)
    assert(GraftFunctions.basketOverflow(
      Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "items"), "items") == 0L)
    // explicit-cap Column overload (SQL-side graft_pairs_capped)
    val small = Seq((1L, (0 until 10).map(_.toLong))).toDF("id", "items")
    assert(small.select(size(GraftFunctions.pairs($"items", 3))).head().getInt(0)
      == 7 * 3 + 3 * 2 / 2) // (n-cap)*cap + cap*(cap-1)/2
    assert(small.select(size(GraftFunctions.pairs($"items", 9))).head().getInt(0)
      == 10 * 9 / 2)
  }
}
