package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.operators.Bpe

/** BPE merge-training kernels + trainer: hand-computed merges on a
  * tiny corpus, kernel edge cases (the left-to-right non-overlap
  * contract the DuckDB oracle's replace() reproduces), and the
  * HOF-equivalence of the compiled pair explode. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def arr(c: org.apache.spark.sql.Column): Seq[String] = {
    spark.range(1).select(c.as("v")).head().getSeq[String](0)
  }

  test("chars kernel: word -> single-char symbols (empty, one, many)") {
    assert(arr(charSymbols(lit("abc"))) == Seq("a", "b", "c"))
    assert(arr(charSymbols(lit("x"))) == Seq("x"))
    assert(arr(charSymbols(lit(""))) == Seq.empty)
  }

  test("merge kernel: left-to-right non-overlapping — 'a a a a' -> 'aa aa', 'a a a' -> 'aa a'") {
    def m(xs: Seq[String], a: String, b: String): Seq[String] =
      arr(mergePair(array(xs.map(lit): _*).cast("array<string>"), a, b))
    assert(m(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(m(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(m(Seq("x", "a", "b", "y"), "a", "b") == Seq("x", "ab", "y"))
    assert(m(Seq("a"), "a", "a") == Seq("a"))
    assert(m(Seq.empty, "a", "b") == Seq.empty)
    // a merged token is not the left end of a following match
    assert(m(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
    // multi-char symbols merge too (later iterations)
    assert(m(Seq("ab", "c", "ab"), "ab", "c") == Seq("abc", "ab"))
  }

  test("merge pair must be a plan constant") {
    val df = Seq((Seq("a", "b"), "a")).toDF("syms", "s")
    val ex = intercept[Exception] {
      df.select(call_function("graft_merge_pair", col("syms"), col("s"), col("s")))
        .collect()
    }
    assert(ex.getMessage.toLowerCase.contains("constant")
      || ex.getMessage.toLowerCase.contains("foldable")
      || ex.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("null array elements raise a named error instead of silent 0L/null structs (ADVICE r13 #3)") {
    // the error can surface at execution OR optimization time (the
    // single-row LocalRelation is projected eagerly by the optimizer),
    // so walk the whole cause chain for the kernel's named message
    def named(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains("null element")))
    val strDf = Seq(Seq(Option("a"), None, Option("b"))).toDF("syms")
    assert(named(intercept[Throwable] {
      strDf.select(explode(adjPairs(col("syms")))).collect()
    }))
    assert(named(intercept[Throwable] {
      strDf.select(mergePair(col("syms"), "a", "b")).collect()
    }))
    val longDf = Seq(Seq(Option(1L), None, Option(3L))).toDF("items")
    assert(named(intercept[Throwable] {
      longDf.select(call_function("graft_pairs", col("items"))).collect()
    }))
  }

  test("adjacent-pairs kernel == HOF transform form") {
    val df = Seq(
      Seq("a", "b", "c", "a", "b"),
      Seq("x"),
      Seq.empty[String],
      Seq("q", "q", "q")
    ).toDF("syms")
    val kernel = df.select(explode(adjPairs(col("syms"))).as("p"))
      .select(col("p.a"), col("p.b")).as[(String, String)].collect().toSeq
    val hof = df.where(size(col("syms")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
      .select(col("p.a"), col("p.b")).as[(String, String)].collect().toSeq
    assert(kernel == hof)
    assert(kernel.nonEmpty)
  }

  test("train: hand-computed merges on a tiny corpus") {
    // corpus: "aaab" x3, "ab" x2  (as documents)
    // pair counts: (a,a): 2*3=6, (a,b): 3+2=5  -> merge 1 = (a,a,6)
    // state: [aa,a,b] x3, [a,b] x2
    // counts: (aa,a):3, (a,b):5 -> merge 2 = (a,b,5)
    // state: [aa,ab] x3, [ab] x2
    // counts: (aa,ab):3 -> merge 3 = (aa,ab,3)
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs).persist()
    try {
      val ms = Bpe.train(words, 4)
      assert(ms.map(m => (m.a, m.b, m.weight)) ==
        Seq(("a", "a", 6L), ("a", "b", 5L), ("aa", "ab", 3L)))
      // early stop: every word fully merged after 3 -> only 3 merges
      assert(ms.size == 3)
      // token counts under the merges: aaab -> [aaab] = 1, ab -> [ab] = 1
      val dict = Bpe.applyMerges(Bpe.initState(words), ms)
      val toks = Bpe.tokenCounts(docs, dict).orderBy("doc_id")
        .as[(Long, Long)].collect().toSeq
      assert(toks == (0L until 5L).map(_ -> 1L))
    } finally words.unpersist(blocking = false)
  }

  test("train: bounded-lineage checkpointing == naive recompute (value identity)") {
    // enough structure for 8+ distinct merges
    val docs = (Seq.fill(5)("abcdefgh") ++ Seq.fill(4)("abcd") ++
      Seq.fill(3)("efgh") ++ Seq.fill(2)("abef") ++ Seq.fill(2)("cdgh"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs).persist()
    try {
      val naive = Bpe.train(words, 8)
      val ckpt = Bpe.train(words, 8, checkpointEvery = 3)
      assert(naive.size == 8)
      assert(ckpt == naive)
    } finally words.unpersist(blocking = false)
  }

  test("greedy segment kernel: longest-match-first, single-char fallback, unknown chars") {
    def seg(word: String, pieces: Seq[String]): Seq[String] =
      arr(greedySegment(lit(word), pieces))
    // longest match wins over a shorter prefix piece
    assert(seg("abcd", Seq("ab", "abc", "c", "d")) == Seq("abc", "d"))
    // greedy is NOT optimal: taking 'ab' first would give 2 tokens
    assert(seg("abc", Seq("ab", "a", "bc")) == Seq("ab", "c"))
    // chars absent from the vocab consume one position each (no <unk> collapse)
    assert(seg("xy", Seq("a")) == Seq("x", "y"))
    assert(seg("", Seq("a")) == Seq.empty)
    // restart after a fallback char picks up multi-char pieces again
    assert(seg("zabz", Seq("ab")) == Seq("z", "ab", "z"))
    // non-BMP: code-point positions — a surrogate pair is ONE symbol,
    // never split into lone surrogates (kernel walks code points like
    // graft_chars, not UTF-16 units)
    assert(seg("a😀b", Seq("xx")) == Seq("a", "😀", "b"))
    assert(seg("a😀b", Seq("a😀")) == Seq("a😀", "b"))
  }

  test("optimal segment count: exact DP lower bound; beats greedy where greedy is suboptimal") {
    def opt(word: String, pieces: Seq[String]): Int = {
      spark.range(1).select(optimalSegmentCount(lit(word), pieces).as("v"))
        .head().getInt(0)
    }
    def greedyN(word: String, pieces: Seq[String]): Int =
      arr(greedySegment(lit(word), pieces)).size
    // tie case: greedy ab + fallback c = 2 == optimal a? no: optimal is
    // also 2 (a + bc or ab + c) — counts agree though paths differ
    assert(greedyN("abc", Seq("ab", "bc")) == 2)
    assert(opt("abc", Seq("ab", "bc")) == 2)
    // STRICT divergence: 'aaab' with {aa, aab} — greedy takes aa first
    // (aa + a + b = 3), optimal defers (a + aab = 2)
    assert(greedyN("aaab", Seq("aa", "aab")) == 3)
    assert(opt("aaab", Seq("aa", "aab")) == 2)
    // edges
    assert(opt("", Seq("a")) == 0)
    assert(opt("xyz", Seq("q")) == 3) // all fallback
    assert(opt("abcd", Seq("abcd")) == 1)
    // surrogate pairs count as one position
    assert(opt("a😀b", Seq("q")) == 3)
    // bound: optimal <= greedy over a corpus of random-ish words
    for (w <- Seq("banana", "bandana", "abcdefgh", "aabbaabb"))
      assert(opt(w, Seq("an", "ban", "ab", "cd")) <=
        greedyN(w, Seq("an", "ban", "ab", "cd")))
  }

  test("wordpiece: learned vocab segments the corpus words it was trained on") {
    val docs = (Seq.fill(6)("banana") ++ Seq.fill(3)("bandana"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs).persist()
    try {
      val vocab = Bpe.pieceVocab(words, maxLen = 4, topV = 4)
      // the alphabet is always present
      assert(Seq("a", "b", "n", "d").forall(vocab.contains))
      // top multi-char piece of this corpus: "an"/"na" family (weighted)
      assert(vocab.exists(_.length > 1))
      val toks = Bpe.wordpieceTokenCounts(docs, vocab).orderBy("doc_id")
        .as[(Long, Long)].collect().toSeq
      assert(toks.size == 9 && toks.forall(_._2 >= 2)) // always < chars, > 1 piece
    } finally words.unpersist(blocking = false)
  }

  test("train tie-break: equal counts resolve to lexicographically smallest pair") {
    // "ab" x2, "cd" x2: (a,b)=2, (c,d)=2 -> first merge must be (a,b)
    val docs = (Seq.fill(2)("ab") ++ Seq.fill(2)("cd"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs).persist()
    try {
      val ms = Bpe.train(words, 1)
      assert(ms.map(m => (m.a, m.b, m.weight)) == Seq(("a", "b", 2L)))
    } finally words.unpersist(blocking = false)
  }
}
