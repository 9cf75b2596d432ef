package graft

/**
 * Programmatic builders for the DuckDB oracle SQL. Constants (hash
 * coefficients, thresholds, prime moduli) live HERE and are referenced
 * by both the Spark operators and the generated SQL, so the two sides
 * can never drift apart.
 *
 * Oracle-parity design rule: query outputs are integer-typed wherever
 * possible (ids, ranks, counts, checksums). Doubles appear only when
 * both engines derive them from the same integers or from identical
 * sequential array folds — then the IEEE bits agree and rounding is
 * stable across engines.
 */
object OracleSql {

  /** DuckDB fragment: cosine similarity between two FLOAT[] columns,
    * computed exactly like graft_cosine (sequential fold, f64 accum). */
  def cosine(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))""".stripMargin.replace("\n", " ")

  /** DuckDB fragment: euclidean distance between two FLOAT[] columns. */
  def euclidean(a: String, b: String): String =
    s"""sqrt(list_sum(list_transform(range(1, len($a)+1),
       | i -> (CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE)))))""".stripMargin.replace("\n", " ")

  // ---- shared dedup/text constants (single source of truth) ----

  /** Prime modulus for MinHash permutations (< 2^31). */
  val MinHashP: Long = 2038074743L

  /** 16 (a, b) pairs for MinHash h_i(x) = (a_i * x + b_i) mod P. */
  val MinHashA: Seq[Long] = Seq(
    887659L, 725861L, 331817L, 976369L, 245621L, 654979L, 410567L, 563117L,
    104729L, 899809L, 318211L, 772669L, 203653L, 611953L, 471871L, 928979L)
  val MinHashB: Seq[Long] = Seq(
    15485863L, 32452843L, 49979687L, 67867967L, 86028121L, 104395301L,
    122949823L, 141650939L, 160481183L, 179424673L, 198491317L, 217645177L,
    236887691L, 256203161L, 275604541L, 295075147L)

  /** MinHash signature length and LSH banding (4 bands x 4 rows). */
  val MinHashK = 16
  val LshBands = 4
  val LshRows = 4

  /** Word-bigram Jaccard threshold for "near duplicate". */
  val JaccardThreshold = 0.7

  /** Signature-agreement floor for the STREAMING near-dup policy
    * (dedup-on-ingest): two docs are near-dups when >= this many of
    * their MinHashK signature slots agree. The slot-agreement fraction
    * is the standard unbiased MinHash estimator of Jaccard, so 12/16
    * = ceil(K * JaccardThreshold) is the estimator-level analogue of
    * the batch family's exact-Jaccard >= 0.7 verify. Chosen over exact
    * Jaccard for the ingest path because verification then needs ONLY
    * the signature sidecar — never the stored text — which is what
    * keeps a 100 TB store's per-trigger probe bounded. */
  val NearDupSigAgreeMin = 12

  /** SimHash signature width: 62 bits, composed of two independent
    * 31-bit hashes h1 + h2 * 2^31 (bits 0..30 from h1, 31..61 from h2).
    * 62 — not 64 — because BOTH engines do checked int64 arithmetic
    * (Spark ANSI, DuckDB always): the widest signature whose weighted
    * bit-sum (< 2^62) and h2-shift (< 2^62) stay overflow-free without
    * unsigned tricks. Round 2's 31-bit width gave radius-3 banding only
    * ~8-bit keys — 256-way blocking, O(n^2/256) candidates at web scale
    * (VERDICT r2 next-step #2); 62 bits gives 15/16-bit bands,
    * 32k/65k-way blocking. */
  val SimHashBits = 62
  val SimHashHalfBits = 31
  val SimHashA: Long = 784727L
  val SimHashB: Long = 179426549L
  /** Second independent hash for bits 31..61 (both primes, like A/B). */
  val SimHashA2: Long = 911099L
  val SimHashB2: Long = 373587883L
  /** Max hamming distance for simhash near-dup pairs. Radius 3 of 62
    * bits (~95% bit agreement): pigeonhole banding then needs only
    * radius+1 = 4 disjoint bands of 15-16 bits — 32k/65k-way blocking
    * per band, the web-scale key width. Random pairs sit at hamming
    * ~31 +- 4, so there is no noise tail at any plausible radius.
    * Measured on the sf0.01 fixtures: the jaccard-verified near-dup
    * population spans hamming 0-8 at this width; radius 3 keeps the
    * 17-pair core and trades the 8-pair tail for 256x stronger blocking
    * than round 2's 8-bit keys — the simhash operator is the
    * recall-for-blocking trade by design (exact Jaccard and MinHash-LSH
    * cover the high-recall end of the suite). */
  val SimHashMaxHamming = 3

  /** Rolling-hash fingerprint: fp = fold(acc*131 + charcode) mod this prime. */
  val FingerprintP: Long = 2147483629L

  /** Embedding near-dup cosine threshold (data has no planted embedding
    * dups; 0.45 captures only the extreme tail). */
  val EmbDupThreshold = 0.45

  /** Number of random hyperplanes for the sign-LSH ANN index. */
  val LshPlanes = 8

  /** Multi-probe radius: a query probes its bucket plus all buckets
    * within this many bit flips (93 of 256 buckets at 8 planes / r=3) —
    * thin-bucket insurance so top-k always has >= k candidates.
    * Radius 3 is tuned to the near-uniform synthetic fixtures (mean
    * recall 0.6 at ~0.4 scan fraction — the worst case for sign-LSH;
    * clustered real embeddings concentrate buckets and would use a
    * smaller radius with more planes). */
  val LshProbeHamming = 3

  /** Sign-LSH banding for embedding near-dup blocking: bands x rows
    * hyperplanes; a pair is a candidate iff some band's row-bits all
    * match (classic OR-of-ANDs). 4x4 at 64-d fixtures; at 100 TB you
    * would raise rows (wider band keys -> stronger blocking) and bands
    * (recall) together. */
  val EmbLshBands = 4
  val EmbLshRows = 4

  /** Shard hash for the sharded token-budget selection: a multiplicative
    * hash both engines compute with identical CHECKED int64 arithmetic
    * (Spark's `hash()` is murmur3 — not SQL-reproducible in DuckDB).
    * Reducing the id mod P first bounds the product at (P-1)*A < 2^52,
    * overflow-free under ANSI on both sides at any id. */
  val ShardP: Long = 1000003L
  val ShardA: Long = 2654435761L

  /** ev_range_join fixture policy: every `Mod`-th event opens a
    * 37-minute "deploy" window; events inside a window attribute to
    * that deploy. 37 min deliberately misaligns with both the 15-min
    * join buckets and the hour grid, so interval edges cross bucket
    * boundaries and the exact-range refine is load-bearing. */
  val RangeJoinDeployMod: Long = 977L
  val RangeJoinDeployWinUs: Long = 37L * 60L * 1000000L

  /** Cross-corpus id offset: benchmark doc ids shift above every
    * corpus id so one shingle/signature namespace carries both sides
    * of a cross-dedup (the minhash decontamination probe). */
  val CrossDocOffset: Long = 1000000000L

  /** DuckDB fragment: the shard of an id column, mirror of
    * Curation.tokenBudgetSharded's shard expression. */
  def shardSql(idCol: String, shards: Int): String =
    s"((($idCol % $ShardP) * $ShardA) % $ShardP) % $shards"

  /** word code: first 4 chars packed base-128 (ASCII-safe; text fixtures
    * are lowercase ASCII). Emits DuckDB SQL for a word expression. */
  def wcode(w: String): String =
    s"CAST(ascii(substr(rpad($w,4,' '),1,1))*2097152 + ascii(substr(rpad($w,4,' '),2,1))*16384" +
      s" + ascii(substr(rpad($w,4,' '),3,1))*128 + ascii(substr(rpad($w,4,' '),4,1)) AS BIGINT)"

  /** DuckDB CTE producing (doc_id, code) DISTINCT word-bigram shingles
    * from `documents` — derived from [[shingleOccCte]] exactly like
    * Dedup.shingles = shingleOccurrences.distinct(), so the occurrence
    * and set forms can never diverge. */
  def shingleCte: String = shingleCteOver("documents")

  /** [[shingleCte]] over a caller-chosen source relation (the
    * cross-corpus decontamination oracle shingles a UNION of corpus
    * and offset benchmark docs). */
  def shingleCteOver(table: String): String =
    s"""${shingleOccCteOver(table)}, shing AS (SELECT DISTINCT doc_id, code FROM shocc)""".stripMargin

  /** DuckDB CTE producing (doc_id, code) word-bigram shingle
    * OCCURRENCES (no DISTINCT — mirror of Dedup.shingleOccurrences,
    * for repetition analysis). */
  def shingleOccCte: String = shingleOccCteOver("documents")

  def shingleOccCteOver(table: String): String =
    s"""tokO AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM $table
       |), shocc AS (
       |  SELECT doc_id, ${wcode("ws[i]")}*268435456 + ${wcode("ws[i+1]")} AS code
       |  FROM tokO, UNNEST(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2
       |)""".stripMargin

  /** DuckDB CTE producing (doc_id, code) distinct word n-gram codes —
    * mirror of Dedup.ngramCodes (rolling hash fold(acc*131 + wcode)
    * mod FingerprintP). */
  def ngramCte(n: Int): String = {
    val code = (0 until n).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * 131 + ${wcode(s"ws[i+$j]")}) % $FingerprintP)"
    }
    s"""tokn AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
       |), ngr AS (
       |  SELECT DISTINCT doc_id, $code AS code
       |  FROM tokn, UNNEST(range(1, len(ws) - ${n - 2})) AS u(i) WHERE len(ws) >= $n
       |)""".stripMargin
  }

  /** DuckDB CTE list producing the MinHash signature table `mh`
    * (doc_id, m0..m15) on top of `shing`. */
  def minhashCte: String = minhashCteNamed("mh")

  /** [[minhashCte]] with a caller-chosen CTE name (the near-dup ingest
    * oracle layers pseudo-signatures on top and wants the union to own
    * the `mh` name the downstream banding CTEs reference). */
  def minhashCteNamed(name: String): String = {
    val mins = (0 until MinHashK).map { i =>
      s"min((${MinHashA(i)}*(code % $MinHashP) + ${MinHashB(i)}) % $MinHashP) AS m$i"
    }.mkString(", ")
    s"$name AS (SELECT doc_id, $mins FROM shing GROUP BY doc_id)"
  }

  /** DuckDB CTE: fingerprint-derived PSEUDO-signatures for docs below
    * the 2-token shingle floor (mirror of IngestSidecar.fullSigsOf) —
    * identical trivial contents agree 16/16, different fingerprints
    * differ in every slot. Needs `mhr` (real sigs); yields `mh`. */
  def pseudoSigCte: String = {
    val slots = (0 until MinHashK).map { i =>
      s"(${MinHashA(i)}*((${fingerprintSql("coalesce(text, '__graft_null__')")}) % $MinHashP) + ${MinHashB(i)}) % $MinHashP AS m$i"
    }.mkString(", ")
    s"""mh AS (SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15 FROM mhr
       |       UNION ALL
       |       SELECT doc_id, $slots FROM documents
       |       WHERE doc_id NOT IN (SELECT doc_id FROM mhr))""".stripMargin
  }

  /** DuckDB fragment: LSH candidate pairs (d1 < d2) from `mh` — union of
    * per-band equijoins, deduplicated. */
  def lshCandidatesCte: String = {
    val bands = (0 until LshBands).map { b =>
      val conds = (0 until LshRows).map(r => s"a.m${b * LshRows + r} = b.m${b * LshRows + r}").mkString(" AND ")
      s"SELECT a.doc_id d1, b.doc_id d2 FROM mh a JOIN mh b ON $conds AND a.doc_id < b.doc_id"
    }.mkString(" UNION ")
    s"cand AS ($bands)"
  }

  /** DuckDB CTEs for exact word-bigram jaccard over all doc pairs that
    * share >= 1 shingle (mirror of Dedup.jaccard: intersect from the
    * shingle self-join, then sizes). Needs `shing`. */
  def jaccardCte: String =
    s"""sz AS (SELECT doc_id, count(*) sz FROM shing GROUP BY doc_id),
       |inter AS (
       |  SELECT s1.doc_id d1, s2.doc_id d2, count(*) i
       |  FROM shing s1 JOIN shing s2 ON s1.code = s2.code AND s1.doc_id < s2.doc_id
       |  GROUP BY 1, 2
       |), jac AS (
       |  SELECT d1, d2, CAST(i AS DOUBLE)/(z1.sz + z2.sz - i) AS j
       |  FROM inter JOIN sz z1 ON z1.doc_id = d1 JOIN sz z2 ON z2.doc_id = d2
       |)""".stripMargin

  /** DuckDB CTE: simhash signature per doc (needs shing). Mirrors
    * Dedup.simhash bit for bit. */
  def simhashCte: String = {
    val sums = (0 until SimHashBits)
      .map(j => s"CAST(sum(((h >> $j) & 1)*2 - 1) AS BIGINT) AS s$j").mkString(", ")
    val sig = (0 until SimHashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""hh AS (SELECT doc_id, ($SimHashA*(code % $MinHashP) + $SimHashB) % $MinHashP
       |              + (($SimHashA2*(code % $MinHashP) + $SimHashB2) % $MinHashP) * ${1L << SimHashHalfBits} AS h FROM shing),
       |bits AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** Deterministic LSH hyperplanes (shared with SimilaritySearch).
    * Values depend only on (plane index, dim), so requesting more planes
    * extends the sequence without changing earlier planes. */
  def lshPlanes(d: Int, m: Int = LshPlanes): Seq[Seq[Double]] =
    (0 until m).map { p =>
      (0 until d).map { i =>
        (((p * d + i + 1).toLong * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
      }
    }

  /** DuckDB fragment: sign bits of an explicit plane list packed into a
    * bucket id (bit j set iff dot with ps(j) > 0). Double literals
    * round-trip exactly via shortest-repr strings. */
  def signBucketSqlFromPlanes(vec: String, d: Int, ps: Seq[Seq[Double]]): String =
    ps.zipWithIndex.map { case (p, j) =>
      val lits = p.mkString("[", ", ", "]")
      s"""CASE WHEN list_sum(list_transform(range(1, ${d + 1}),
         | i -> CAST($vec[i] AS DOUBLE) * ($lits)[i])) > 0.0 THEN ${1L << j} ELSE 0 END""".stripMargin.replace("\n", " ")
    }.mkString("(", " + ", ")")

  /** DuckDB fragment: the sign-LSH bucket id of a FLOAT[] vector column. */
  def lshBucketSql(vec: String, d: Int): String =
    signBucketSqlFromPlanes(vec, d, lshPlanes(d))

  /** DuckDB fragment: band `b`'s key for embedding near-dup blocking —
    * the sign bits of planes [b*rows, (b+1)*rows) at local positions. */
  def embBandKeySql(vec: String, d: Int, b: Int): String = {
    val ps = lshPlanes(d, EmbLshBands * EmbLshRows)
      .slice(b * EmbLshRows, (b + 1) * EmbLshRows)
    signBucketSqlFromPlanes(vec, d, ps)
  }

  /** DuckDB CTE chain for the feature-hashing embedder (mirrors
    * HashingEmbedder): codes -> counts -> l2-normalized FLOAT[] `e`
    * in CTE `ev` keyed by doc_id. */
  def hashEmbedCtes(d: Int): String =
    s"""codes AS (
       |  SELECT doc_id, list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |                                w -> ${wcode("w")} % $d) AS cs
       |  FROM documents
       |), cnt AS (
       |  SELECT doc_id, list_transform(range(0, $d),
       |                                j -> CAST(len(list_filter(cs, c -> c = j)) AS BIGINT)) AS cnts
       |  FROM codes
       |), nrm AS (
       |  SELECT doc_id, cnts,
       |         sqrt(list_sum(list_transform(cnts, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nn
       |  FROM cnt
       |), ev AS (
       |  SELECT doc_id,
       |         CAST(list_transform(cnts, x -> CASE WHEN nn > 0.0 THEN CAST(x AS DOUBLE)/nn ELSE 0.0 END) AS FLOAT[]) AS e
       |  FROM nrm
       |)""".stripMargin

  /** DuckDB CTE chain ending in `cev`(doc_id, chunk_idx, e): the
    * hashing embedder applied PER CHUNK (chunk() slicing at 64/16,
    * hashEmbedCtes' exact normalization ops) — the corpus side of
    * late-interaction max-sim scoring. */
  def chunkEmbedCtes(d: Int): String = {
    val kmax = "CASE WHEN len(ws) > 64 THEN (len(ws) - 64 + 47) // 48 ELSE 0 END"
    s"""tch AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |cch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |          list_slice(ws, k*48 + 1, k*48 + 64) AS cws
       |        FROM tch, UNNEST(range(0, $kmax + 1)) AS u(k) WHERE len(ws) > 0),
       |ccd AS (SELECT doc_id, chunk_idx,
       |          list_transform(cws, w -> ${wcode("w")} % $d) AS cs FROM cch),
       |ccn AS (SELECT doc_id, chunk_idx,
       |          list_transform(range(0, $d),
       |                         j -> CAST(len(list_filter(cs, c -> c = j)) AS BIGINT)) AS cnts
       |        FROM ccd),
       |cnr AS (SELECT doc_id, chunk_idx, cnts,
       |          sqrt(list_sum(list_transform(cnts, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nn
       |        FROM ccn),
       |cev AS (SELECT doc_id, chunk_idx,
       |          CAST(list_transform(cnts, x -> CASE WHEN nn > 0.0 THEN CAST(x AS DOUBLE)/nn ELSE 0.0 END) AS FLOAT[]) AS e
       |        FROM cnr)""".stripMargin
  }

  /** DuckDB CTE chain: `iters` UNROLLED integer-PageRank rounds over a
    * pair CTE `p`(d1, d2) — recursive CTEs disallow aggregation in the
    * recursive term, so the oracle unrolls; the integer recurrence
    * (div at both steps) is bit-reproducible, so pr<iters> replays
    * Graph.pagerankInt exactly. */
  def pagerankCtes(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""pr$t AS (SELECT e.v AS node,
         |  CAST(150000 + (850 * sum(pp.pr // dg.deg)) // 1000 AS BIGINT) AS pr
         |  FROM pr${t - 1} pp JOIN ed e ON pp.node = e.u JOIN dg ON e.u = dg.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""ed AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p),
       |dg AS (SELECT u, count(*) AS deg FROM ed GROUP BY u),
       |pr0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS pr FROM dg),
       |$steps""".stripMargin
  }

  /** DuckDB fragment: the marker-count language-ID CASE over a token
    * list column `ws` (mirrors TextAnalysis.langId). */
  def langIdSql(markers: Seq[(String, Seq[String])]): String = {
    val scores = markers.map { case (lang, ms) =>
      lang -> s"len(list_filter(ws, w -> w IN (${ms.map(m => s"'$m'").mkString(", ")})))"
    }
    val conds = scores.zipWithIndex.map { case ((lang, sc), i) =>
      val geAll = scores.map(_._2).map(o => s"$sc >= $o").mkString(" AND ")
      s"WHEN $geAll AND $sc > 0 THEN '$lang'"
    }
    s"CASE ${conds.mkString(" ")} ELSE 'und' END"
  }

  // ---- SemDeDup shared SQL tail ----

  /** The SemDeDup tail CTEs, shared by the flat and hierarchical
    * oracle rows: given upstream CTEs defining `asg(vec_id, cid, dist)`,
    * form within-cluster cosine pairs, recursive-CTE components (the
    * dedup_clusters pattern), and the farthest-from-centroid keep
    * policy. Mirrors Dedup.semanticFromAssignment operation for
    * operation. */
  def semanticKeepChain: String =
    s"""p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
       |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |      JOIN embeddings ea ON ea.vec_id = a.vec_id
       |      JOIN embeddings eb ON eb.vec_id = b.vec_id
       |      WHERE ${cosine("ea.embedding", "eb.embedding")} >= $EmbDupThreshold),
       |e AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p),
       |n AS (SELECT DISTINCT u FROM e),
       |lab(u, l) AS (
       |  SELECT u, u FROM n
       |  UNION
       |  SELECT e.u, lab.l FROM e JOIN lab ON e.v = lab.u
       |),
       |comp AS (SELECT u AS doc_id, min(l) AS component FROM lab GROUP BY u),
       |m AS (SELECT c.doc_id, c.component, a.dist FROM comp c JOIN asg a ON a.vec_id = c.doc_id),
       |k AS (SELECT doc_id, component, dist,
       |        row_number() OVER (PARTITION BY component ORDER BY dist DESC, doc_id) rn,
       |        count(*) OVER (PARTITION BY component) cnt FROM m)""".stripMargin

  /** Final select paired with [[semanticKeepChain]]: untouched
    * singletons at group_sz 1 plus each dup group's survivor. */
  def semanticFinalSelect: String =
    """SELECT vec_id, CAST(1 AS BIGINT) AS group_sz FROM embeddings
      |WHERE vec_id NOT IN (SELECT doc_id FROM comp)
      |UNION ALL
      |SELECT doc_id AS vec_id, CAST(cnt AS BIGINT) AS group_sz FROM k WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  // ---- BM25 full-text + hybrid rank-fusion constants ----

  /** BM25 term-saturation and length-normalization parameters (the
    * standard Robertson defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Reciprocal-rank-fusion constant (Cormack et al.'s k=60) and the
    * integer scale: points = RrfScale div (RrfC + rank) — integer
    * division on both engines, so fused scores are cross-engine exact
    * with no float comparison anywhere in the fusion. */
  val RrfC = 60L
  val RrfScale = 1000000L

  /** A double constant as DuckDB SQL that parses to the EXACT same
    * IEEE value Spark's lit() uses: Scala's shortest-roundtrip repr fed
    * through the double parser (a bare decimal literal would be read as
    * DECIMAL and re-rounded through decimal arithmetic). */
  def dlit(x: Double): String = s"CAST('${x}' AS DOUBLE)"

  /**
   * DuckDB CTE chain ending in `sc`(doc_id, score, n_hit): BM25 over
   * `documents` for `terms`, mirror of Search.bm25Scored operation for
   * operation (same association order, so the only cross-engine delta
   * is the ln ulp — never enough to reorder discrete-input scores).
   */
  def bm25Ctes(terms: Seq[String], where: String = "TRUE",
               prefix: String = ""): String = {
    val tfs = terms.indices.map(i =>
      s"CAST(len(list_filter(ws, w -> w = '${terms(i)}')) AS BIGINT) AS tf_$i").mkString(", ")
    val dfs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")
    val score = terms.indices.map { i =>
      val tf = s"CAST(tf_$i AS DOUBLE)"
      val df = s"CAST(df_$i AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * ${dlit(Bm25K1 + 1.0)}) / ($tf + ${dlit(Bm25K1)} * (${dlit(1.0 - Bm25B)} + ${dlit(Bm25B)} * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
    }.mkString(" + ")
    val hits = terms.indices.map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""${prefix}btok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |         FROM documents WHERE $where),
       |${prefix}bbase AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, $tfs FROM ${prefix}btok),
       |${prefix}bstat AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS sum_dl, $dfs FROM ${prefix}bbase),
       |${prefix}sc AS (SELECT b.doc_id, $score AS score, CAST($hits AS INT) AS n_hit
       |       FROM ${prefix}bbase b, ${prefix}bstat)""".stripMargin
  }

  // ---- sequence packing / shard export constants ----

  /** Tokens per packed training sequence and the id-range width of a
    * prefix-sum shard (see Packing.packAssign). */
  val PackSeqLen = 512L
  val PackSpan = 500L

  /** Shard fan-out for the training-shard export. */
  val ExportShards = 16

  /** DuckDB fragment: the rolling-hash fingerprint of a text expression
    * (mirror of TextAnalysis.fingerprint — fold(acc*131 + charcode) mod
    * FingerprintP over the lowercased text). */
  def fingerprintSql(textExpr: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, len(lower($textExpr))+1),
       |        i -> CAST(ascii(substr(lower($textExpr), i, 1)) AS BIGINT))),
       |    (acc, c) -> (acc*131 + c) % $FingerprintP)""".stripMargin

  /**
   * DuckDB CTE chain: greedy sequential sequence-packing over a CTE
   * `pdoc`(doc_id, n_tok) — global token prefix-sum in id order, bin =
   * tokens_before div seqLen — ending in `pseq` (the per-sequence
   * stats). The oracle packs with ONE global window; the Spark side
   * packs with a sharded prefix sum (Packing.packAssign) — integer
   * equivalence is exact, which is the point: the distributed plan is
   * checked against the obviously-correct sequential rule.
   */
  def packCtes(seqLen: Long): String =
    s"""pcum AS (SELECT doc_id, n_tok,
       |  COALESCE(sum(n_tok) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
       |  FROM pdoc),
       |passign AS (SELECT doc_id, n_tok,
       |  CAST(tok_before // $seqLen AS BIGINT) AS seq_id FROM pcum),
       |pseq AS (SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |  FROM passign GROUP BY seq_id)""".stripMargin
}
