package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.OracleSql._

/**
 * Deduplication operators for LLM training-data pipelines: exact
 * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — all as
 * shuffle-conscious DataFrame transforms.
 *
 * Shingling scheme (shared with the DuckDB oracle via graft.OracleSql —
 * the constants live there): word-level bigrams, each word encoded as
 * its first 4 chars packed base-128 (ASCII), bigram = wc1 * 2^28 + wc2.
 * Everything downstream is int64 arithmetic, so results hash-match the
 * oracle exactly.
 *
 * Scale notes (100 TB): shingling + minhash is a single map + one
 * groupBy(doc_id) with map-side partial min() — one shuffle of 16 longs
 * per doc. LSH banding turns the O(n^2) pair space into equi-joins on
 * band keys (shuffle on band signature; skew-safe because a band bucket
 * of near-dups is tiny relative to partitions). The exact all-pairs
 * variants exist for oracle cross-checks at test scale only.
 */
object Dedup {

  /**
   * Cut lineage on an iterative/reused intermediate. With a checkpoint
   * dir configured (`sc.setCheckpointDir`) this is a RELIABLE checkpoint
   * — the dataframe is persisted to the (fault-tolerant) checkpoint
   * store and survives executor loss, which `localCheckpoint` (executor-
   * local blocks only) does not; on a real cluster an executor death
   * mid-job would otherwise kill the whole iterative computation.
   * Without a checkpoint dir it falls back to `localCheckpoint` — the
   * right default on local[N] where executor loss means JVM death anyway
   * and the reliable path would just pay serialization for nothing.
   *
   * The reliable branch persists before checkpointing: the checkpoint
   * write job RECOMPUTES an unpersisted RDD from scratch (doubling every
   * round's shuffles — the exact cost this code avoids elsewhere); with
   * the persist, the write reads the cached blocks, and the cache is
   * dropped right after. Checkpoint files accumulate per round unless
   * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — set it on
   * long-lived sessions.
   */
  private[operators] def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cp = cached.checkpoint() // eager: materializes via the cache
      cached.unpersist(blocking = false)
      cp
    } else df.localCheckpoint(eager = false)
    // lazy (r18): every iterative caller follows the checkpoint with an
    // immediate count/fingerprint aggregate, which materializes the
    // blocks in the SAME job — the eager form paid one extra job per
    // round just to materialize, then a second to fingerprint

  /** Lowercased alnum tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** (doc_id, code) word-bigram shingle OCCURRENCES (one row per
    * position — repetition analysis needs the multiplicities). Codes
    * come from the codegen'd [[graft.functions.ShingleKernel]] (one
    * compiled tokenize+pack pass per row); the Column-form equivalent
    * (tokens -> per-word rpad/ascii pack -> windowed pairing) is pinned
    * as a KernelSpec equivalence test and mirrored by
    * OracleSql.shingleOccCte. */
  def shingleOccurrences(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    // codegen'd single-pass kernel (tokenize + pack in one compiled
    // loop — see ShingleKernel: the interpreted HOF form cost 4.2 s vs
    // 0.7 s at sf1 and dominated every shingle-family cold path);
    // values bit-identical to the Column form, parity-gated. explode
    // of the empty array preserves the old `size(ws) >= 2` row filter.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      explode(call_function("graft_shingle_codes", col(textCol))).as("code"))
  }

  /** (doc_id, code) DISTINCT word-bigram shingles (set semantics — the
    * minhash/jaccard/simhash input). */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleOccurrences(docs, idCol, textCol).distinct()

  /** (doc_id, code) distinct word n-gram codes for arbitrary n: rolling
    * hash fold(acc*131 + wcode) mod FingerprintP over each n-word window.
    * Int64-safe on both engines (acc < P ~ 2^31, so acc*131 + 2^28 <
    * 2^39 — far from checked-arithmetic overflow). The bigram
    * [[shingles]] keep their positional packing (shared constants with
    * the minhash/simhash oracle chain); this generalization serves the
    * long-n-gram operators (decontamination needs 5+-grams — short
    * n-grams flag stopword collisions, not leakage). */
  def ngramCodes(docs: DataFrame, n: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, "graft: n-gram width must be >= 1")
    // codegen'd single-pass kernel (see shingleOccurrences)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      explode(call_function("graft_ngram_codes",
        col(textCol), lit(n))).as("code"))
      .distinct()
  }

  /** Exact dedup: group by content hash, keep min id.
    * Reference-scope analogue: content.bin upsert dedup (SURVEY §1.3);
    * at scale: one hash-partitioned groupBy, no skew (hashes uniform). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(lower(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))

  /**
   * Exact-substring duplication (the suffix-array dedup family, e.g.
   * "Deduplicating Training Data Makes Language Models Better" — see
   * PAPERS.md): a document is substring-duplicated when it shares a
   * verbatim run of `n` tokens with ANY other document. Token runs are
   * compared by their rolling-hash codes ([[ngramCodes]]), the
   * distributed stand-in for the paper's suffix array: a shared code is
   * a shared span up to hash collision (~2^-31 per pair at
   * FingerprintP), and `n` plays the paper's min-match-length L (50
   * tokens there; the fixtures' planted near-dup families are shorter
   * docs, so the default here is 8).
   *
   * Returns (doc_id, n_dup_spans): every doc with >= `minSpans` cross-
   * doc duplicated n-gram codes, with the count of distinct such codes.
   *
   * Scale shape (100 TB): one groupBy(code) with a map-side-combined
   * count (uniform keys — codes are hashes), then one equi-join back on
   * code and one groupBy(doc_id) partial count. Never an all-pairs doc
   * comparison; the join's build side (duplicated codes) is left to
   * Spark's stats — on a crawl it is corpus-sized, and a forced
   * broadcast would OOM. Deliberately NOT emitted as pairs: a code
   * shared by k docs expands to k^2/2 pairs (boilerplate headers make
   * k huge) while the per-doc flag stays k rows.
   */
  def substringDups(docs: DataFrame, n: Int = 8, minSpans: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val codes = ngramCodes(docs, n, idCol, textCol)
    // codes is distinct per (doc, code), so count(*) = #docs sharing it
    val dup = codes.groupBy("code")
      .agg(count(lit(1)).as("nd")).where(col("nd") > 1).select("code")
    codes.join(dup, Seq("code"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
      .where(col("n_dup_spans") >= minSpans)
  }

  /**
   * Exact duplicate-span REMOVAL — the transform half of the
   * suffix-array dedup family ([[substringDups]] is the detector):
   * every token covered by a word `n`-gram that appears in more than
   * one document is dropped, and the document is rebuilt from the
   * survivors (Lee et al. 2022 remove the duplicated spans themselves;
   * span membership via the rolling-hash codes). Returns
   * (doc_id, n_tok, n_removed, cleaned) — cleaned is the surviving
   * tokens joined by single spaces (tokens are already lowercase, so
   * downstream shingling/fingerprinting treats it as a normal text
   * column).
   *
   * Plan shape (100 TB): one kernel pass emits positional n-gram codes
   * (posexplode); the cross-doc dup-code table derives from a
   * distinct + count agg (hash join back on `code` — NOT broadcast by
   * construction: on a boilerplate-heavy crawl the dup-code table is
   * vocab-scale); per-doc dup positions collapse to one bounded array
   * (collect_list ≤ doc length — order irrelevant, coverage is a
   * predicate over the set); the rebuild is a stateless projection
   * with an indexed filter. No window, no self-join, no corpus-sized
   * shuffle beyond the (doc, position-array) rows.
   */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 8,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(n >= 1, "graft: span width must be >= 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // pinned: occ feeds both the dup-code aggregate and the join-back —
    // unpinned, each consumer re-runs the corpus kernel pass (the
    // dsirSelect lesson; lazy checkpoint so the first consumer
    // materializes and the second reads blocks)
    val occ = docs.select(col(idCol).as("doc_id"),
      posexplode(call_function("graft_ngram_codes", col(textCol), lit(n))))
      .toDF("doc_id", "pos", "code")
      .localCheckpoint(false)
    val dup = occ.select("doc_id", "code").distinct()
      .groupBy("code").agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select("code")
    val dupPos = occ.join(dup, Seq("code"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("dps"))
    docs
      // null text behaves as empty (n_tok 0, cleaned "") instead of
      // surfacing size(null) = -1
      .select(col(idCol).as("doc_id"),
        coalesce(tokens(col(textCol)), array().cast("array<string>")).as("ws"))
      .join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("dps"), array().cast("array<integer>")).as("dps"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tok"),
        filter(col("ws"), (_, i) =>
          !exists(col("dps"), p => p <= i && i <= p + (n - 1))).as("kept"))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("cleaned"))
  }

  /** MinHash signatures (doc_id, m0..m15): one groupBy with 16 partial
    * min aggregates — map-side combined, 16 longs per doc shuffled. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val aggs = (0 until MinHashK).map { i =>
      min((lit(MinHashA(i)) * (col("code") % MinHashP) + lit(MinHashB(i))) % MinHashP).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs (d1 < d2): one (band, key) row per doc per
    * band, then a SINGLE self-equi-join on (band, key) — equivalent to
    * the union of per-band joins but with one shuffle of bands x n
    * short rows instead of 2 x bands scans of the signature table. */
  /** (doc_id, band, key) banded signature rows — the shared keying of
    * [[lshCandidates]] (self-join near-dups) and the cross-corpus probe
    * ([[Curation.decontaminateMinhash]] joins a corpus's bands against
    * a broadcast benchmark's). */
  def bandKeys(mh: DataFrame): DataFrame = {
    val bandCol = explode(array((0 until LshBands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until LshRows).map(r => col(s"m${b * LshRows + r}").as(s"r$r")): _*).as("key"))
    }: _*))
    mh.select(col("doc_id"), bandCol.as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def lshCandidates(mh: DataFrame): DataFrame = {
    val keyed = bandKeys(mh)
    val l = keyed.select(col("doc_id").as("d1"), col("band"), col("key"))
    val r = keyed.select(col("doc_id").as("d2"), col("band"), col("key"))
    l.join(r, Seq("band", "key")).where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /**
   * Exact word-bigram Jaccard for every doc pair sharing >= 1 shingle.
   * Plan shape matters at scale: intersect counts come from the shingle
   * self-equi-join on `code` (sum of f_c^2 rows — bounded by shingle
   * frequency, never |docs|^2), NOT from a pairs x shingles join.
   * Pairs with no shared shingle have j = 0 and are never materialized.
   * `restrictTo`: optional (d1, d2) candidate set (e.g. LSH bands) to
   * semi-join before the expensive grouping.
   */
  def jaccard(sh: DataFrame, restrictTo: Option[DataFrame] = None): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // With a candidate set, cut the shingle table down to candidate docs
    // BEFORE the self-join: the join cost then scales with the (tiny)
    // near-dup population, not the corpus.
    val shR = restrictTo match {
      case Some(pairs) =>
        val ids = pairs.select(col("d1").as("doc_id"))
          .union(pairs.select(col("d2").as("doc_id"))).distinct()
        sh.join(broadcast(ids), Seq("doc_id"), "left_semi")
      case None => sh
    }
    val s1 = shR.select(col("doc_id").as("d1"), col("code"))
    val s2 = shR.select(col("doc_id").as("d2"), col("code"))
    val joined = s1.join(s2, Seq("code")).where(col("d1") < col("d2"))
    val restricted = restrictTo match {
      case Some(pairs) => joined.join(pairs, Seq("d1", "d2"), "left_semi")
      case None => joined
    }
    val inter = restricted.groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    inter
      .join(sz.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "z1"), "d1")
      .join(sz.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "z2"), "d2")
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / (col("z1") + col("z2") - col("i"))).as("j"))
  }

  /**
   * MinHash-LSH near-dup pipeline: candidates from banding, verified
   * with exact Jaccard >= threshold.
   *
   * Exact-duplicate collapse first (the standard large-corpus staging —
   * CCNet/Gopher run exact dedup BEFORE fuzzy dedup): identical
   * contents group to one representative, the shingle/minhash/verify
   * machinery runs over UNIQUE contents only, and results expand back
   * through the groups. Output-identical to running over all docs —
   * identical content means identical shingle sets, hence identical
   * signatures, band keys, candidacy, and Jaccard (within a group the
   * Jaccard is exactly z/z = 1.0) — but the expensive shingle
   * self-join is no longer quadratic in content multiplicity. Round 4's
   * sf1 scale run (every doc a 10-clique of exact dups by construction)
   * put the uncollapsed pipeline at 353 s: every shingle code appeared
   * in 10x the docs, so the code self-join produced 100x the rows. The
   * equivalence is regression-tested against [[minhashNearDupsDirect]].
   */
  def minhashNearDups(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    // (doc_id, gid): gid = min doc_id of the doc's exact-content group.
    // Group key is md5(lower(text)) — shingles depend only on
    // lower(text), so equal keys imply equal shingle sets (and md5
    // collisions are the same 2^-64-class risk the banding tests accept)
    val hashed = docs.select(col("doc_id"), col("text"),
      md5(lower(col("text"))).as("chash"))
    val groups = hashed.groupBy("chash").agg(min(col("doc_id")).as("gid"))
    // members is reused by both expansions; at 100 TB it is corpus-sized
    // and the chash join shuffles (uniform hash keys, skew-free)
    val members = checkpointed(
      hashed.join(groups, Seq("chash")).select(col("doc_id"), col("gid")))
    val reps = hashed.join(
      members.where(col("doc_id") === col("gid")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // the shingle table feeds signatures AND verification: materialize it
    // once (checkpointed — unlike .cache() it cuts the lineage instead
    // of wrapping an InMemoryRelation that blocks pushdown; r1 measured
    // cache at 4.6x SLOWER). At 100 TB this is a reliable-checkpointed/
    // bucketed intermediate table (set a checkpoint dir — see
    // [[checkpointed]]).
    val sh = checkpointed(shingles(reps))
    val cand = lshCandidates(minhashSignatures(sh))
    val repPairs = jaccard(sh, Some(cand)).where(col("j") >= threshold)
    // cross-group expansion: a rep pair (g1, g2, j) holds for every
    // (member of g1) x (member of g2) at the SAME j — identical contents
    // have identical shingle sets. Output-sized joins; repPairs is tiny
    // next to members, so Spark broadcasts it
    val m1 = members.select(col("gid").as("d1"), col("doc_id").as("x"))
    val m2 = members.select(col("gid").as("d2"), col("doc_id").as("y"))
    val cross = repPairs.join(m1, Seq("d1")).join(m2, Seq("d2"))
      .select(least(col("x"), col("y")).as("d1"),
        greatest(col("x"), col("y")).as("d2"), col("j"))
    // within-group expansion: exact dups pair at j = 1.0 — but ONLY for
    // groups whose content shingles at all (docs under 2 tokens produce
    // no shingles, no signature, no candidacy in the direct pipeline)
    val shingledGids = sh.select(col("doc_id").as("gid")).distinct()
    val wm = members.join(shingledGids, Seq("gid"), "left_semi")
    val within0 = wm.select(col("gid"), col("doc_id").as("x"))
      .join(wm.select(col("gid"), col("doc_id").as("y")), Seq("gid"))
      .where(col("x") < col("y"))
      .select(col("x").as("d1"), col("y").as("d2"), lit(1.0).as("j"))
    // exact-dup pairs sit at j = 1.0, which still has to clear the
    // threshold: for the degenerate threshold > 1.0 the direct pipeline
    // emits nothing, so the collapsed one must too (ADVICE r5 #4 — keeps
    // the equivalence contract total). Scala-level gate, not a .where, so
    // the common case adds no (trivially-true) predicate to the plan.
    val within = if (threshold <= 1.0) within0 else within0.limit(0)
    // disjoint by construction (cross spans two groups, within stays in
    // one; groups partition the docs), so a plain union — no distinct
    cross.union(within)
  }

  /** Uncollapsed MinHash-LSH pipeline — the equivalence baseline for
    * [[minhashNearDups]]'s exact-duplicate collapse; never the
    * production path (quadratic in content multiplicity). */
  private[graft] def minhashNearDupsDirect(docs: DataFrame,
                                           threshold: Double = JaccardThreshold): DataFrame = {
    val sh = checkpointed(shingles(docs))
    val cand = lshCandidates(minhashSignatures(sh))
    jaccard(sh, Some(cand)).where(col("j") >= threshold)
  }

  /** All shared-shingle-pairs exact Jaccard near-dups (cross-check for
    * LSH recall; the shingle join bounds the pair space, but at 100 TB
    * you still band first). */
  def exactNearDups(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val sh = shingles(docs)
    jaccard(sh, None).where(col("j") >= threshold)
  }

  /** 62-bit SimHash per doc over shingle codes: hash each shingle
    * (two composed 31-bit hashes — see OracleSql.SimHashBits for why 62
    * is the int64-parity-safe width), signed-sum each bit, sign -> bit.
    * One explode + one groupBy with 62 map-side-combined sums. */
  def simhash(sh: DataFrame): DataFrame = {
    val h1 = (lit(SimHashA) * (col("code") % MinHashP) + lit(SimHashB)) % MinHashP
    val h2 = (lit(SimHashA2) * (col("code") % MinHashP) + lit(SimHashB2)) % MinHashP
    val h = h1 + h2 * lit(1L << SimHashHalfBits)
    val withH = sh.select(col("doc_id"), h.as("h"))
    val sums = (0 until SimHashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2L - 1L).as(s"s$j")
    }
    val agg = withH.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sig = (0 until SimHashBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce((x, y) => x + y)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /**
   * SimHash near-dup pairs via bit-band blocking (pigeonhole-EXACT, not
   * approximate: a pair within `maxHamming` flips differs in at most
   * maxHamming of the maxHamming+1 disjoint bands, so at least one band
   * matches exactly and the pair survives some band equi-join). Each
   * band join shuffles on a ~(bits/(h+1))-bit key — 15/16-bit keys
   * (32k/65k-way blocking) at the default radius 3 over 62-bit
   * signatures; round 2's 31-bit width gave only ~8-bit keys, 256-way
   * blocking, O(n^2/256) candidates at web scale (VERDICT r2 next-step
   * #2) — instead of the r1 all-pairs theta join. Identical output to
   * [[simhashPairsExact]] by construction.
   */
  def simhashPairs(sig: DataFrame, maxHamming: Int = SimHashMaxHamming): DataFrame = {
    val nb = maxHamming + 1
    // misconfiguration must fail loudly: nb > bits would give width-0
    // bands whose mask is 0 — every doc in one bucket per such band, a
    // silent all-pairs join (ADVICE r2 #5)
    require(maxHamming >= 0 && nb <= SimHashBits,
      s"graft: maxHamming=$maxHamming needs ${nb} disjoint bands but the" +
        s" signature has only $SimHashBits bits (each band must be >= 1 bit)")
    val bounds = (0 to nb).map(i => i * SimHashBits / nb)
    // one (band, key) row per doc per band, then a SINGLE self-equi-join
    // on (band, key) — same pair set as per-band joins, one shuffle of
    // nb x n short rows, one signature computation
    val bandCol = explode(array((0 until nb).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1L)).as("key"))
    }: _*))
    val keyed = sig.select(col("doc_id"), col("simhash"), bandCol.as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val l = keyed.select(col("doc_id").as("d1"), col("simhash").as("h1"),
      col("band"), col("key"))
    val r = keyed.select(col("doc_id").as("d2"), col("simhash").as("h2"),
      col("band"), col("key"))
    // verify INSIDE the band join (before the dedup shuffle): only true
    // near-dup pairs — not raw band collisions — reach the distinct
    l.join(r, Seq("band", "key")).where(col("d1") < col("d2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
      .distinct()
  }

  /** All-pairs reference implementation of [[simhashPairs]] — the
    * equivalence test baseline; never the production path. */
  def simhashPairsExact(sig: DataFrame, maxHamming: Int = SimHashMaxHamming): DataFrame = {
    val a = sig.select(col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = sig.select(col("doc_id").as("d2"), col("simhash").as("h2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** Embedding near-dup: ALL pairs with cosine >= threshold — the exact
    * verification baseline (O(n^2); correctness-gated, excluded from
    * bench like dedup_jaccard). The scale path is
    * [[embeddingNearDupsLsh]]. */
  def embeddingNearDups(emb: DataFrame, threshold: Double = EmbDupThreshold): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    val a = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = emb.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    a.join(b, col("v1") < col("v2"))
      .withColumn("sim", cosine(col("e1"), col("e2")))
      .where(col("sim") >= threshold)
      .select(col("v1"), col("v2"), round(col("sim"), 4).as("sim_r"))
  }

  /**
   * Connected components over a near-dup pair list — the step that turns
   * pairwise matches into dedup GROUPS (keep min-id doc per component,
   * drop the rest). Hash-to-min label propagation: every node repeatedly
   * takes the min label among itself and its neighbors until fixpoint.
   * Each round is one shuffle (edges joined to labels on the neighbor
   * key, then a min-aggregate); rounds = component diameter, which for
   * near-dup clusters is tiny. At 100 TB you would switch to the
   * alternating large-star/small-star formulation (provably O(log n)
   * rounds, same per-round plan shape). `localCheckpoint` cuts the
   * iterative lineage so plans stay constant-size.
   *
   * Returns (doc_id, component) with component = min doc id reachable.
   *
   * Like Spark's broadcast-join threshold, a small pair list short-
   * circuits to driver-side union-find ([[componentsLocal]]): near-dup
   * graphs are usually minuscule next to the corpus, and a handful of
   * distributed fixpoint rounds costs more in job scheduling than the
   * whole graph costs in driver memory. Identical output either way.
   */
  def components(pairs: DataFrame, maxIter: Int = 50,
                 broadcastThreshold: Long = 1000000L,
                 edgesPerPartition: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val sel = pairs.select(col("d1"), col("d2"))
    // an already-persisted pair graph (e.g. the suite's shared dup-pair
    // cache) needs no lineage cut here — the count, the union-find
    // collect, and the iterative rounds all read the cached blocks;
    // checkpointing it AGAIN would materialize a fresh copy on every
    // call (one eager job per consumer per rep)
    val p =
      if (pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE) sel
      else checkpointed(sel)
    if (p.count() <= broadcastThreshold) return componentsLocal(spark, p)
    componentsStars(p, maxIter, edgesPerPartition)
  }

  /**
   * Connected components over STRING-keyed pairs — the consumer shape
   * for [[graft.operators.VectorStore.nearDups]], whose edge ids are
   * store row ids (uuids / caller strings), not longs. Ids are hashed
   * to 64-bit keys for the integer component machinery, with a LOUD
   * injectivity check on this input (one aggregate comparing distinct
   * ids to distinct hashes — at 2^64 key space a collision needs
   * billions of ids, but a silent one would merge two unrelated
   * components, so it fails the job instead). The integer component
   * label (min member hash) maps back to that member's string id, so
   * the representative is deterministic for a given id set.
   *
   * Returns (id, component_id): every id in any pair, labeled by its
   * component's representative id.
   */
  def componentsByKey(pairs: DataFrame, col1: String = "id1",
                      col2: String = "id2"): DataFrame = {
    val ids = pairs.select(col(col1).as("id"))
      .unionByName(pairs.select(col(col2).as("id"))).distinct()
    val keyed = ids.withColumn("h", xxhash64(col("id")))
    val chk = keyed.agg(count(lit(1)), countDistinct(col("h"))).head()
    require(chk.getLong(0) == chk.getLong(1),
      s"graft: xxhash64 collision among ${chk.getLong(0)} ids — componentsByKey would merge unrelated components")
    val hp = pairs.select(xxhash64(col(col1)).as("d1"), xxhash64(col(col2)).as("d2"))
    val comp = components(hp) // (doc_id, component) over hashes
    comp
      .join(keyed.withColumnRenamed("h", "doc_id"), "doc_id")
      .join(keyed.select(col("h").as("component"), col("id").as("component_id")),
        "component")
      .select(col("id"), col("component_id"))
  }

  /** Per-round partition count for the iterative component algorithms:
    * one partition per `edgesPerPartition` edges, floor 4 — a fixture
    * graph iterates over 4 small tasks, a billion-edge graph over ~1000
    * (each round's shuffle then scales with the data instead of
    * serializing through a constant). */
  private[graft] def roundPartitions(edgeCount: Long, edgesPerPartition: Long = 1000000L): Int = {
    require(edgesPerPartition > 0, "graft: edgesPerPartition must be positive")
    math.min(
      math.max(4L, (edgeCount + edgesPerPartition - 1) / edgesPerPartition),
      Int.MaxValue.toLong).toInt
  }

  /** Size an iteration's round output to `nParts`: the rounds' shuffles
    * produce the session shuffle width, so coalesce (no extra shuffle)
    * when narrowing and repartition when the derived width exceeds it —
    * one policy shared by the star and hash-to-min iterations. Decided
    * from conf, NOT from `e.rdd` (that materializes the round's shuffle
    * stages under AQE just to read a partition count, running the round
    * twice). */
  private def sizedTo(e: DataFrame, nParts: Int): DataFrame = {
    val width = e.sparkSession.sessionState.conf.numShufflePartitions
    if (width >= nParts) e.coalesce(nParts) else e.repartition(nParts)
  }

  /** Driver-side union-find for small pair lists. */
  private def componentsLocal(spark: org.apache.spark.sql.SparkSession,
                              pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- es) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(k => (k, find(k)))
      .toDF("doc_id", "component")
  }

  /**
   * Alternating large-star/small-star connected components (Kiveris et
   * al., "Connected Components in MapReduce and Beyond", SOCC'14): each
   * round rewires edges toward component minima —
   *   large-star: every node's strictly-larger neighbors attach to the
   *     minimum of its closed neighborhood;
   *   small-star: on edges directed big->small, every neighbor (and the
   *     node) attaches to the minimum neighbor.
   * Converges in O(log n) rounds regardless of component diameter (the
   * hash-to-min loop needs diameter rounds — a 1000-doc boilerplate
   * chain defeats it). Terminates when the edge set is a fixpoint; the
   * final edges form stars rooted at each component's min node.
   *
   * Round parallelism is derived from the edge count
   * (`edgesPerPartition`, see [[roundPartitions]]) — a billion-edge pair
   * graph iterates over ~1000 partitions, a fixture graph over 4 (round
   * 2 hard-coded coalesce(4), serializing every round at scale —
   * VERDICT r2 next-step #1). Convergence is detected with one cheap
   * aggregate per round — (count, order-independent hash-sum) of the
   * canonical post-smallStar edge set — instead of r2's two distributed
   * anti-joins, halving the per-round job count.
   */
  private[graft] def componentsStars(pairs: DataFrame, maxIter: Int = 50,
                                     edgesPerPartition: Long = 1000000L): DataFrame = {
    val init0 = checkpointed(pairs.select(col("d1").as("u"), col("d2").as("v"))
      .where(col("u") =!= col("v")).distinct())
    val nParts = roundPartitions(init0.count(), edgesPerPartition)
    val init = checkpointed(sizedTo(init0, nParts))
    val nodes = checkpointed(
      init.select(col("u")).union(init.select(col("v"))).distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      und.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      val rewired = dir.join(mins, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val own = mins.select(col("u"), col("m").as("v"))
      rewired.union(own).where(col("u") =!= col("v")).distinct()
    }

    // (row count, order-independent checksum): equal fingerprints across
    // a deterministic round mean an unchanged edge set. bit_xor of the
    // 64-bit row hashes is commutative, can NEVER overflow (no checked-
    // arithmetic ceiling at any edge count — a modular SUM caps out
    // around 4e9 edges under ANSI), and xor-cancellation needs duplicate
    // rows, which the per-round distinct rules out: two DISTINCT edge
    // sets collide with ~2^-64 probability, and the star/union-find
    // equivalence tests plus the recursive-CTE oracle gate actual
    // correctness.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = init
    var fp = fingerprint(init)
    var converged = false
    var i = 0
    // per-round ADAPTIVE width (r18, VERDICT r17 next #4): the star
    // rounds collapse the edge set fast (stars of each component), so a
    // width derived from the INITIAL count over-partitions every later
    // round at scale. The fingerprint already counts each round's
    // edges — reuse it to size the next round for free. Partitioning
    // never changes values; floor(4) keeps the fixture behaviour.
    var parts = nParts
    while (!converged && i < maxIter) {
      val next = checkpointed(sizedTo(smallStar(largeStar(edges)), parts))
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      parts = roundPartitions(nfp._1, edgesPerPartition)
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"graft: star components did not converge in $maxIter rounds")
    // final edges are (node -> root) stars; roots map to themselves
    val rooted = edges.select(col("u").as("doc_id"), col("v").as("component"))
    nodes.join(rooted, nodes("u") === rooted("doc_id"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("component"), col("u")).as("component"))
  }

  /** Distributed hash-to-min fixpoint (kept for small/shallow graphs and
    * as the equivalence baseline; see [[componentsStars]] for the
    * diameter-independent path). */
  private[graft] def componentsDistributed(pairs: DataFrame, maxIter: Int,
                                           edgesPerPartition: Long = 1000000L): DataFrame = {
    val fwd = pairs.select(col("d1").as("u"), col("d2").as("v"))
    val edges = checkpointed(
      fwd.union(fwd.select(col("v").as("u"), col("u").as("v"))).distinct())
    // iteration width derived from the edge count (see roundPartitions
    // and sizedTo)
    val nParts = roundPartitions(edges.count(), edgesPerPartition)
    var labels = checkpointed(edges.select(col("u")).distinct()
      .withColumn("l", col("u")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val fromNbrs = edges.join(labels.select(col("u").as("v"), col("l")), Seq("v"))
        .select(col("u"), col("l"))
      val next = checkpointed(sizedTo(
        labels.union(fromNbrs)
          .groupBy("u").agg(min(col("l")).as("l")), nParts))
      val changed = next.select(col("u"), col("l").as("nl"))
        .join(labels, Seq("u"))
        .where(col("nl") =!= col("l"))
        .limit(1).count() > 0
      labels = next
      converged = !changed
      i += 1
    }
    // partially-propagated labels are WRONG answers, not approximations
    if (!converged) throw new IllegalStateException(
      s"graft: component propagation did not converge in $maxIter rounds" +
        " (component diameter exceeds maxIter — raise it, or use the" +
        " large-star/small-star formulation)")
    labels.select(col("u").as("doc_id"), col("l").as("component"))
  }

  /** Per-(band, key) bucket width past which the banded self-join
    * switches from all-pairs-within-bucket to rank-blocked pairing
    * (VERDICT r7 next #3). Above any sf0.1 bucket (~125 avg,
    * few-hundred hot across 16 buckets per band — the cap changes
    * NOTHING there, which is what the oracle rows pin), mildly engaged
    * at sf1 (measured via tools.OverflowProbe: max width 2,440, 10
    * buckets past the cap; lsh recall_sf1 held at 0.95 — beyond-cap
    * pairs are rank-chained, so components stay connected), and the
    * real target is degenerate corpora (a crawl shard of boilerplate:
    * millions of near-identical rows hashing to ONE bucket, where
    * all-pairs is quadratic death). */
  val EmbLshBucketCap = 2048

  /**
   * Banded sign-LSH embedding near-dup (the 100 TB path): bands x rows
   * hyperplane sign bits; candidate pairs match ALL row-bits of >= 1
   * band (OR-of-ANDs — per-band equi-join on a rows-bit key, never
   * all-pairs), then exact cosine verification. Recall is the standard
   * LSH s-curve in the pair similarity (measured against
   * [[embeddingNearDups]] in OperatorSpec); precision is 1.0 because
   * verification applies the same threshold.
   *
   * Scale hardening (r8, VERDICT r7 what's-wrong #3): two changes to
   * the r7 shape, both no-ops on non-degenerate data —
   *  - the banded exchange carries (band, key, id, rank) ONLY; the
   *    embeddings join back once per side AFTER the (v1, v2) distinct,
   *    so each vector crosses the wire twice total instead of `bands`
   *    times and the cosine kernel runs exactly once per pair (the
   *    same carry-ids-not-vectors lesson as ann_lsh_join's r7 fix).
   *  - pair generation inside a bucket is RANK-BLOCKED: members are
   *    ranked by id, each lands in block floor((rk-1)/cap) plus a guest
   *    copy in the previous block, and the equi-join key is
   *    (band, key, block) with a rank-distance filter — every pair
   *    within rank distance `bucketCap` is found exactly once, pairs
   *    further apart are not generated AT ALL (the blow-up is avoided
   *    structurally, not filtered after the fact: a post-join filter
   *    would still materialize bucket^2 rows inside the join). A
   *    bucket of width w <= cap produces all pairs (identical to r7);
   *    a degenerate w > cap bucket produces O(w x cap) chained pairs
   *    instead of O(w^2) — every member still pairs with its cap
   *    nearest ranks, so downstream connected components still link
   *    the whole near-identical clique transitively through the chain.
   * Overflow is observable via [[bandedBucketOverflow]] — eager
   * consumers (VectorStore.buildDupGraph) record it loudly.
   */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double = EmbDupThreshold,
                           d: Int = 64,
                           bucketCap: Int = EmbLshBucketCap): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    require(bucketCap >= 2, s"graft: bucketCap $bucketCap must be >= 2")
    // one (band, key) row per vector per band (shared banding —
    // SimilaritySearch.bandedKeys), ids only
    val keyed = SimilaritySearch.bandedKeys(
      emb.select(col("vec_id"), col("embedding")), "embedding",
      d, EmbLshBands, EmbLshRows)
      .select(col("band"), col("key"), col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("vec_id")
    val ranked = keyed.withColumn("rk", row_number().over(w))
      .withColumn("blk", floor((col("rk") - 1) / bucketCap))
    val l = ranked.select(col("band"), col("key"), col("blk"),
      col("vec_id").as("v1"), col("rk").as("rk1"))
    // guest copy into the previous block: a pair straddling a block
    // boundary (blocks b, b+1) meets where the higher-ranked member's
    // guest copy lands (block b); within-block pairs meet at home.
    // Each qualifying pair is generated exactly once per band.
    val rHome = ranked.select(col("band"), col("key"), col("blk"),
      col("vec_id").as("v2"), col("rk").as("rk2"))
    val rGuest = rHome.withColumn("blk", col("blk") - 1).where(col("blk") >= 0)
    val pairs = l.join(rHome.unionByName(rGuest), Seq("band", "key", "blk"))
      // rank order == id order within a bucket, so rk2 > rk1 <=> v2 > v1
      // for unique ids; the explicit v1 =!= v2 guard keeps DUPLICATE
      // vec_ids (two physical rows, one id — e.g. a crashed-and-retried
      // append) from emitting (x, x) self-pairs, matching the r7
      // v1 < v2 semantics exactly
      .where(col("rk2") > col("rk1") && col("rk2") <= col("rk1") + bucketCap
        && col("v1") =!= col("v2"))
      .select(col("v1"), col("v2")).distinct()
    // verify AFTER the distinct: cosine is deterministic per pair, so
    // the result set matches verify-inside-the-join exactly, and each
    // surviving pair runs the kernel once per physical row pair. The
    // trailing distinct exists ONLY for duplicate-id inputs, where the
    // join-back re-expands one logical pair into several identical
    // rows (unique-id inputs reach it already distinct — near-free).
    pairs
      .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .withColumn("sim", cosine(col("e1"), col("e2")))
      .where(col("sim") >= threshold)
      .select(col("v1"), col("v2"), round(col("sim"), 4).as("sim_r"))
      .distinct()
  }

  /**
   * Asymmetric banded sign-LSH near-dup: pairs with at least one side
   * in `newEmb`, verified against `corpus` — the incremental dup-graph
   * maintenance primitive (VERDICT r7 next #2). After an append, only
   * (new x all) pairs can be new, so banding the appended rows against
   * the full corpus banding replaces a full O(corpus x corpus) rebuild
   * with O(new x corpus-bucket-overlap). Exact identity (uncapped
   * regime): collision and cosine are pairwise properties, so
   * pairs(old U new) = pairs(old) U pairsAgainst(new, old U new).
   *
   * `newEmb` rows must be a subset of `corpus` (the caller passes the
   * post-append snapshot as corpus); both sides (vec_id, embedding).
   * Returns (v1, v2, sim_r) with v1 < v2, deduped.
   */
  def embeddingNearDupsLshAgainst(newEmb: DataFrame, corpus: DataFrame,
                                  threshold: Double = EmbDupThreshold,
                                  d: Int = 64,
                                  bucketCap: Int = EmbLshBucketCap): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    val nk = SimilaritySearch.bandedKeys(
      newEmb.select(col("vec_id"), col("embedding")), "embedding",
      d, EmbLshBands, EmbLshRows)
      .select(col("band"), col("key"), col("vec_id").as("nid"))
    // corpus-side hot-bucket truncation, mirroring the self-join's cap:
    // without it a boilerplate-heavy append against a degenerate bucket
    // re-opens the |new| x |bucket| blow-up this family just closed.
    // Below the cap (every organic corpus) the filter keeps all rows,
    // so incremental == full holds exactly; above it, the full rebuild
    // (whose chained pairs keep components connected) is the compaction
    // that re-canonicalizes.
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("vec_id")
    val ck = SimilaritySearch.bandedKeys(
      corpus.select(col("vec_id"), col("embedding")), "embedding",
      d, EmbLshBands, EmbLshRows)
      .withColumn("crk", row_number().over(cw))
      .where(col("crk") <= bucketCap)
      .select(col("band"), col("key"), col("vec_id").as("cid"))
    // the small (new) side carries ids through the band join; pairs
    // canonicalize to v1 < v2 (a new-new pair collides from both
    // sides — the distinct folds it) and vectors join back once
    val pairs = nk.join(ck, Seq("band", "key"))
      .where(col("nid") =!= col("cid"))
      .select(least(col("nid"), col("cid")).as("v1"),
        greatest(col("nid"), col("cid")).as("v2"))
      .distinct()
    pairs
      .join(corpus.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(corpus.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .withColumn("sim", cosine(col("e1"), col("e2")))
      .where(col("sim") >= threshold)
      .select(col("v1"), col("v2"), round(col("sim"), 4).as("sim_r"))
      .distinct() // duplicate-id inputs only; see embeddingNearDupsLsh
  }

  /** Count of (band, key) buckets wider than `cap` — the LOUD overflow
    * signal for the banded family's caps: zero on organic corpora,
    * nonzero exactly when a capped path stopped generating some
    * within-bucket candidates. Pass the SAME cap and band geometry as
    * the path being checked: `EmbLshBucketCap` + Emb defaults for
    * [[embeddingNearDupsLsh]]/[[embeddingNearDupsLshAgainst]];
    * `SimilaritySearch.LshCandCap` + the call's bands/rows for the
    * LSH join family. Eager consumers record it next to the artifact
    * they commit (costs one extra linear banding pass — acceptable
    * once per full rebuild, the rare compaction op). */
  def bandedBucketOverflow(emb: DataFrame, d: Int,
                           cap: Int = EmbLshBucketCap,
                           bands: Int = EmbLshBands,
                           rows: Int = EmbLshRows): Long =
    SimilaritySearch.bandedKeys(
      emb.select(col("vec_id"), col("embedding")), "embedding",
      d, bands, rows)
      .groupBy("band", "key").count()
      .where(col("count") > cap)
      .count()

  /** Target mean cluster width for the scaled SemDeDup configuration
    * (k = n / width): keeps the per-cluster window and the rank-blocked
    * pair join bounded as the corpus grows — the paper runs the same
    * regime (clusters stay O(10^4) while n grows to web scale). */
  val SemTargetClusterWidth = 256L

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
   * within a cluster, and keep one member per semantic-dup group — the
   * k-means-bucketed alternative to sign-LSH banding
   * ([[embeddingNearDupsLsh]]) from the published web-scale pipelines.
   * Complements, not replaces, the LSH family: clustering buckets by
   * global geometry (coarse regions), banding by randomized projections
   * (probabilistic recall at any similarity), and both verify with the
   * same exact cosine threshold.
   *
   * Keep policy follows the paper: within a dup group, the member
   * FARTHEST from its cluster centroid survives (the paper keeps
   * low-centroid-similarity examples as the informative ones), ties by
   * min id. Returns (vec_id, group_sz) of survivors — group_sz 1 for
   * docs in no dup group, else the size of the group the survivor
   * represents.
   *
   * `centroids` defaults to the fixed seed-row codebook (rows with
   * vec_id < nCentroids — deterministic and oracle-reproducible, like
   * the `ann_ivf` oracle row's codebook); production passes
   * [[SimilaritySearch.kmeansCentroids]], which changes recall, not
   * shape.
   *
   * Scale shape (100 TB): assignment is the broadcast-codebook argmin
   * expression — a projection over the scan, zero shuffle. Candidate
   * pairs form per cluster through the same rank-blocked home/guest
   * join as the banded LSH buckets (the cluster is the bucket): a
   * cluster of width w <= clusterCap yields all within-cluster pairs,
   * a degenerate cluster yields O(w x clusterCap) chained pairs that
   * keep the group connected instead of O(w^2). UNLIKE the LSH family,
   * vectors ride the bucket join and cosine is scored INLINE: LSH
   * candidates are rare (ids-only banding + join-back wins there), but
   * here every within-cluster rank-neighbor pair is a candidate —
   * n x width/2 of them — and a candidate-sized exchange (distinct +
   * two vector join-backs) would dominate the job, while the carried
   * vectors cost one corpus-sized window shuffle that the ranking
   * needs anyway. The assignment projection is checkpointed so the
   * argmin fold runs ONCE (the keep policy re-reads cdist after
   * components). Components + keep-selection operate on the dup graph
   * only (tiny next to the corpus); the surviving-singleton set is one
   * left-anti join against it.
   *
   * At scale, k must GROW with the corpus ([[SemTargetClusterWidth]]):
   * each cluster is one window partition (one task) and one candidate
   * bucket, so a fixed k at growing n concentrates work; k = n/width
   * keeps both linear. The codebook stays driver-side metadata up to
   * ~10^4 centroids (the paper's regime); past that, assignment
   * switches from the plan-constant argmin expression to a broadcast
   * join — same shape [[SimilaritySearch.ivfAssign]] would take.
   */
  def semanticDedup(emb: DataFrame, nCentroids: Int = 16,
                    threshold: Double = EmbDupThreshold,
                    centroids: Option[DataFrame] = None,
                    clusterCap: Int = EmbLshBucketCap): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    require(clusterCap >= 2, s"graft: clusterCap $clusterCap must be >= 2")
    val cent = centroids.getOrElse(
      emb.where(col("vec_id") < nCentroids)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    val codebook = SimilaritySearch.collectCodebook(cent)
    // one argmin pass total, materialized LAZILY on first use (an eager
    // checkpoint pays a separate materialization job that dominates at
    // small scale; no checkpoint at all re-runs the assignment under
    // every self-join branch at large scale) and shared by the
    // bucket-join sides and the post-components keep policy
    val asg = emb.select(col("vec_id"), col("embedding"),
      SimilaritySearch.nearestCentroidStruct(col("embedding"), codebook).as("a"))
      .select(col("vec_id"), col("embedding"),
        col("a").getField("cid").as("cid"),
        col("a").getField("dist").as("cdist"))
      .localCheckpoint(false)
    semanticFromAssignment(emb, asg, threshold, clusterCap)
  }

  /** The post-assignment half of SemDeDup, shared by the flat and
    * hierarchical assignment paths: rank-blocked within-cluster
    * candidate pairs, inline cosine verification, components, and the
    * farthest-from-centroid keep policy. `asg` must be
    * (vec_id, embedding, cid, cdist), pinned by the caller (it is read
    * by both bucket-join sides and the keep policy). */
  private def semanticFromAssignment(emb: DataFrame, asg: DataFrame,
                                     threshold: Double, clusterCap: Int): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    // rank-blocked within-cluster candidates (see embeddingNearDupsLsh
    // for the block/guest construction — here with cid as the bucket,
    // and vectors CARRIED so cosine scores inline in the join output
    // instead of re-joining a candidate-sized pair list)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy("vec_id")
    val ranked = asg.select("cid", "vec_id", "embedding")
      .withColumn("rk", row_number().over(w))
      .withColumn("blk", floor((col("rk") - 1) / clusterCap))
    val l = ranked.select(col("cid"), col("blk"),
      col("vec_id").as("v1"), col("rk").as("rk1"), col("embedding").as("e1"))
    val rHome = ranked.select(col("cid"), col("blk"),
      col("vec_id").as("v2"), col("rk").as("rk2"), col("embedding").as("e2"))
    val rGuest = rHome.withColumn("blk", col("blk") - 1).where(col("blk") >= 0)
    val pairs = l.join(rHome.unionByName(rGuest), Seq("cid", "blk"))
      .where(col("rk2") > col("rk1") && col("rk2") <= col("rk1") + clusterCap
        && col("v1") =!= col("v2"))
      .where(cosine(col("e1"), col("e2")) >= threshold)
      .select(col("v1").as("d1"), col("v2").as("d2"))
      .distinct() // duplicate-id inputs only; see embeddingNearDupsLsh
    // pairs never cross clusters, so components stay within-cluster
    val comp = components(pairs)
    val members = comp
      .join(asg.select(col("vec_id").as("doc_id"), col("cdist")), Seq("doc_id"))
    val kw = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("cdist").desc, col("doc_id"))
    val keeps = members
      .withColumn("rn", row_number().over(kw))
      .withColumn("group_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")))
      .where(col("rn") === 1)
      .select(col("doc_id").as("vec_id"), col("group_sz"))
    val singletons = emb.select("vec_id")
      .join(comp.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("group_sz", lit(1L))
    singletons.unionByName(keeps)
  }

  /**
   * SemDeDup with HIERARCHICAL two-level assignment — the 100 TB form
   * of [[semanticDedup]] (VERDICT r9 What's-wrong #4b). The paper's
   * regime k = n/width means the fine codebook grows LINEARLY with the
   * corpus: at web scale it neither broadcasts as a plan constant nor
   * collects driver-side. Here only C = ceil(sqrt(k)) COARSE centroids
   * (the first C fine seeds) are driver metadata:
   *
   *  1. fine -> coarse: each fine centroid is assigned to its nearest
   *     coarse cell via the broadcast coarse codebook — a projection
   *     over the k-row centroid table, which stays DISTRIBUTED.
   *  2. vector probe: each corpus row computes its `nprobe` nearest
   *     coarse cells as a per-row expression (no shuffle), explodes,
   *     and joins the cell-grouped fine centroids on ccid — each task
   *     sees only its cells' ~sqrt(k) fine centroids, so assignment
   *     work is O(n * (sqrt(k) + nprobe*sqrt(k)) * d) instead of
   *     O(n * k * d), and nothing corpus- or k-sized broadcasts.
   *  3. per-vector argmin over the probed candidates by (dist, fcid)
   *     — a map-side-combinable min(struct) aggregation.
   *
   * Everything downstream (rank-blocked pairs, components, keep) is
   * [[semanticFromAssignment]], identical to the flat path. With
   * nprobe >= C the probe is exhaustive and the assignment EQUALS the
   * flat argmin (same tie-breaks — OperatorSpec pins the set
   * equality); smaller nprobe is the standard IVF approximation, and
   * the oracle SQL mirrors the probe so the scaled row stays
   * hash-gated at any nprobe.
   */
  def semanticDedupHierarchical(emb: DataFrame, nCentroids: Int,
                                threshold: Double = EmbDupThreshold,
                                nprobe: Int = SemNprobe,
                                clusterCap: Int = EmbLshBucketCap): DataFrame = {
    require(nCentroids >= 1, s"graft: nCentroids $nCentroids must be >= 1")
    require(nprobe >= 1, s"graft: nprobe $nprobe must be >= 1")
    require(clusterCap >= 2, s"graft: clusterCap $clusterCap must be >= 2")
    val nCoarse = math.ceil(math.sqrt(nCentroids.toDouble)).toInt
    val fine = emb.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("fcid"), col("embedding").as("fv"))
    val coarseBook = SimilaritySearch.collectCodebook(
      fine.where(col("fcid") < nCoarse)
        .select(col("fcid").as("cid"), col("fv").as("cvec")))
    val fineCells = fine.select(
      SimilaritySearch.nearestCentroid(col("fv"), coarseBook).as("ccid"),
      col("fcid"), col("fv"))
    val probed = emb.select(col("vec_id"), col("embedding"),
      explode(SimilaritySearch.nearestCentroidsProbe(
        col("embedding"), coarseBook, nprobe)).as("ccid"))
    import graft.functions.GraftFunctions.euclidean
    val asg = probed.join(fineCells, Seq("ccid"))
      .select(col("vec_id"), col("embedding"),
        struct(euclidean(col("embedding"), col("fv")).as("dist"),
          col("fcid").as("cid")).as("dc"))
      .groupBy("vec_id")
      .agg(min(col("dc")).as("m"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        col("m").getField("cid").as("cid"),
        col("m").getField("dist").as("cdist"))
      .localCheckpoint(false)
    semanticFromAssignment(emb, asg, threshold, clusterCap)
  }

  /** Default coarse-cell probe width for
    * [[semanticDedupHierarchical]] (shared with the oracle SQL). */
  val SemNprobe = 2
}
