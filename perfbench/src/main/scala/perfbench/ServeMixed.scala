package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.VectorStore

/** Tagged top-10 serving with writes mixed in, over one quantized store
  * whose rows spread over 60 Zipf-popular tag sets.
  *
  * The timed phase is a sequence of rounds. Each round inserts new rows
  * (some open new tag sets), then makes `QueriesPerWrite` single tagged
  * searches. The first search after a write takes the snapshot-cache
  * miss path and is timed apart (`Outcome.altQueries`); the others hit
  * the cache, where per-query fixed cost (tag-key resolution, planning,
  * scheduling, file opens) dominates. The run ends with `compact()` and
  * `vacuum(0)`.
  *
  * A ledger of live rows kept by the benchmark checks every search
  * against brute force, and the store's live ids per tag set after
  * every write and after maintenance. */
object ServeMixed extends Workload {
  val name = "serve_mixed"

  val SeedRows = 3000
  val Dim = 64
  val SeededSets = 60
  val NewSets = 6
  val Topics = 40
  val Centres = 16
  val Sigma = 0.35
  val K = 10
  /** One search after the write, then eight cache hits: five rounds
    * give five miss samples and forty hits, enough for a p75 tail. */
  val QueriesPerWrite = 9
  val MinRounds = 5
  val WarmSearches = 8
  val InsertRows = 100

  /** Inputs, and the ledger of the store's live rows. */
  final class Data(seed: Long) {
    val sets = Gen.tagSets(seed, SeededSets + NewSets, Topics)
    private val seededZipf = new Gen.Zipf(SeededSets, 1.0)
    private val allZipf = new Gen.Zipf(SeededSets + NewSets, 1.0)
    val cs = Gen.centres(seed, Centres, Dim)
    private val r = Gen.rng(seed, "serve.rows")
    val seedRows = Gen.rows(r, 0L, Gen.mixture(r, cs, SeedRows, Sigma),
      _ => sets(seededZipf.draw(r)))
    val ledger = mutable.LinkedHashMap[Long, Gen.VRow]() ++= seedRows.map(x => x.id -> x)
    private var nextId = SeedRows.toLong

    private val wr = Gen.rng(seed, "serve.writes")
    /** New rows; their tag sets are drawn over seeded and new sets. */
    def inserts(): Seq[Gen.VRow] = {
      val rows = Gen.rows(wr, nextId, Gen.mixture(wr, cs, InsertRows, Sigma),
        _ => sets(allZipf.draw(wr)))
      nextId += InsertRows
      rows
    }

    /** A query vector with one or two tags of a Zipf-drawn tag set. */
    def queries(salt: String): Iterator[(Array[Float], Seq[String])] = {
      val qr = Gen.rng(seed, salt)
      Iterator.continually((Gen.mixture(qr, cs, 1, Sigma).head, Gen.queryTags(qr, sets, allZipf)))
    }

    def candidates(tags: Seq[String]): Seq[(Long, Array[Float])] =
      ledger.valuesIterator.filter(x => tags.forall(x.tags.contains)).map(x => (x.id, x.vector)).toSeq
  }

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val t0 = System.nanoTime()
    val data = new Data(seed)
    val df = Workload.frame(spark, data.seedRows)
    val genS = Workload.secs(t0)
    val t1 = System.nanoTime()
    val store = new VectorStore(spark, s"$dir/store")
    store.insert(df, quantize = true)
    val seedS = Workload.secs(t1)
    new Prepared {
      val setupParts = (genS, seedS)
      // searches only: the first one after the seed insert misses the
      // snapshot cache, the others hit it; the seed insert has already
      // run the write path once
      def warmUp(): Unit =
        data.queries("serve.warm").take(WarmSearches).foreach { case (v, tags) =>
          store.search(v.toSeq, tags, K).collect()
        }
      def run(trace: Trace, seconds: Double): Outcome = serve(spark, data, store, trace, seconds)
    }
  }

  /** Live ids per tag set: the store's view against the ledger's. */
  private def ledgerCheck(store: VectorStore, data: Data): Option[String] = {
    val got = store.table().select("id", "tags").collect()
      .map(r => (r.getString(0).toLong, r.getSeq[String](1).sorted)).groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    val want = data.ledger.values.groupBy(_.tags.sorted).view.mapValues(_.map(_.id).toSet).toMap
    if (got == want) None
    else Some(s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} tag sets differ")
  }

  private def search(store: VectorStore, data: Data, trace: Trace, out: Outcome,
                     q: Array[Float], tags: Seq[String], what: String): Double = {
    val (rows, ms) = Workload.timed {
      trace.request("search") {
        trace.collect(trace.span("store.search")(store.search(q.toSeq, tags, K)))
      }(_.length.toLong)
    }
    out.check(what, Oracle.checkTopK(q, data.candidates(tags), K, Workload.hits(rows)))
    ms
  }

  /** One round: an insert, then `QueriesPerWrite` searches. Returns the
    * rows acknowledged and the insert's latency. */
  private def round(spark: SparkSession, data: Data, store: VectorStore, trace: Trace,
                    out: Outcome, qs: Iterator[(Array[Float], Seq[String])]): (Int, Double) = {
    val rows = data.inserts()
    val df = Workload.frame(spark, rows)
    val ms = Workload.timed(
      trace.request("insert")(trace.span("store.insert")(store.insert(df)))(_ => 0L))._2
    rows.foreach(x => data.ledger(x.id) = x)
    (1 to QueriesPerWrite).foreach { j =>
      val (q, tags) = qs.next()
      if (j == 1) out.altQueries += search(store, data, trace, out, q, tags, "search after write")
      else out.queries += search(store, data, trace, out, q, tags, "search")
    }
    (rows.size, ms)
  }

  private def serve(spark: SparkSession, data: Data, store: VectorStore,
                    trace: Trace, seconds: Double): Outcome = {
    val out = new Outcome
    val qs = data.queries("serve.timed")
    // storage counters of the traced run, from listings of the store root
    val seen = mutable.HashMap[String, Long]() ++= Workload.listing(spark, store.root)
    val v0 = store.versions.lastOption.getOrElse(0)
    var vMax = v0
    var bytesWritten = 0L
    var peak = seen.values.sum
    var deltaMax = 0
    def observe(): Unit = if (trace.on) {
      val now = Workload.listing(spark, store.root)
      bytesWritten += now.iterator.filterNot { case (p, n) => seen.get(p).contains(n) }.map(_._2).sum
      seen.clear(); seen ++= now
      peak = math.max(peak, now.values.sum)
      vMax = math.max(vMax, store.versions.lastOption.getOrElse(0))
      deltaMax = math.max(deltaMax, Workload.deltaFiles(spark, store))
    }

    val t0 = System.nanoTime()
    while (out.jobs.size < MinRounds || Workload.secs(t0) < seconds) {
      val (n, ms) = round(spark, data, store, trace, out, qs)
      out.check("ledger after write", ledgerCheck(store, data))
      out.jobs += ms
      out.jobItems += n
      observe()
    }
    val (_, compactMs) = Workload.timed(
      trace.request("compact")(trace.span("store.compact")(store.compact()))(_ => 0L))
    observe()
    val (_, vacuumMs) = Workload.timed(
      trace.request("vacuum")(trace.span("store.vacuum")(store.vacuum(0L)))(_ => 0L))
    out.stop()
    out.maintenanceS = (compactMs + vacuumMs) / 1000.0
    out.check("ledger after maintenance", ledgerCheck(store, data))
    val (q, tags) = qs.next()
    search(store, data, trace, out, q, tags, "search after maintenance")
    observe()

    val userBytes = data.ledger.values.map(_.userBytes).sum
    out.bytesPerUserByte = Workload.listing(spark, store.root).values.sum.toDouble / userBytes
    out.recall = 1.0 - out.failed.toDouble / out.attempted
    val (p, tail) = Stats.tail(out.queries.toSeq)
    out.named("search_p50_ms") = (Stats.median(out.queries.toSeq), "ms")
    out.named("search_tail_ms") = (tail, "ms")
    out.named("search_tail_percentile") = (p, "pct")
    out.named("cache_hit_searches") = (out.queries.size.toDouble, "count")
    out.named("read_after_write_p50_ms") = (Stats.median(out.altQueries.toSeq), "ms")
    out.named("write_p50_ms") = (Stats.median(out.jobs.toSeq), "ms")
    out.named("writes") = (out.jobs.size.toDouble, "count")
    out.named("ingest_rows_per_s") = (out.jobItems / (out.jobs.sum / 1000.0), "1/s")
    out.named("maintenance_s") = (out.maintenanceS, "s")
    out.named("bytes_per_user_byte") = (out.bytesPerUserByte, "ratio")
    if (trace.on) {
      out.layers("store.insert_ms") = Stats.median(out.jobs.toSeq)
      out.layers("store.compact_s") = compactMs / 1000.0
      out.layers("store.vacuum_s") = vacuumMs / 1000.0
      out.layers("commit.manifest_versions") = (vMax - v0).toDouble
      out.layers("commit.delta_files_max") = deltaMax.toDouble
      val (files, bytes) = Workload.liveStorage(store)
      out.layers("storage.files_live") = files.toDouble
      out.layers("storage.bytes_live") = bytes.toDouble
      out.layers("storage.partitions_live") = data.ledger.values.map(_.tags).toSet.size.toDouble
      out.layers("storage.bytes_on_disk_peak") = peak.toDouble
      out.layers("storage.bytes_written") = bytesWritten.toDouble
      Workload.kernelProbe(spark, store, qs.take(Workload.ProbeQueries).map(_._1).toSeq, out)
    }
    out
  }
}
