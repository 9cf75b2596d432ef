package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.EventOps

/**
 * Fixture-generation canary: the driver regenerated the test fixtures
 * between rounds 8 and 9 and events.ts silently changed physical type —
 * TIMESTAMP(NANOS) (readable only as BIGINT nanos) became plain
 * timestamp[us] with isAdjustedToUTC=false. Every events consumer broke
 * at analysis time: 7 correctness rows vanished and the driver's bench
 * crashed in ScaleUp with no artifact at all. This spec synthesizes the
 * SAME events in both physical encodings and pins every entry point
 * (batch normalization, rollup, sessionize, interval join, streaming
 * twin) to identical results, so the next schema drift fails HERE with
 * a named cause instead of silently dropping a query family.
 */
class EventSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (event_id, ts_ns, user_id, event_type, value, props) — micros
    * precision (ns multiple of 1000) so both encodings can represent
    * the identical instant. Spacing crosses hour and session-gap
    * boundaries, with error-after-click pairs inside the join window. */
  private def baseRows: Seq[(Long, Long, Long, String, Double, String)] = {
    val t0 = 1767225600L * 1000000000L // 2026-01-01T00:00:00Z in nanos
    (0L until 240L).map { i =>
      val user = i % 8
      // bursts with a >30min gap every 10 events per user; sub-second
      // micros offsets exercise the floor-to-seconds semantics
      val ns = t0 + (i / 8) * 300L * 1000000000L +
        (i / 80) * 3000L * 1000000000L + user * 123456000L
      val et = ((i / 8) % 5) match {
        case 0 => "view"; case 1 => "click"; case 2 => "purchase"
        case 3 => "error"; case _ => "scroll"
      }
      (i, ns, user, et, (i % 7) * 1.25, s"p$i")
    }
  }

  /** Write `rows` as <dir>/events.parquet (a FILE, like the fixture) in
    * the given ts encoding; returns the dir. */
  private def writeFixture(tsEncoding: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-evschema-$tsEncoding")
    val staged = dir.resolve("staged")
    val df = baseRows.toDF("event_id", "ts_ns", "user_id", "event_type", "value", "props")
    val withTs = tsEncoding match {
      case "long_nanos" => df.withColumn("ts", col("ts_ns"))
      case "ts_ntz_micros" => df.withColumn("ts",
        timestamp_micros(expr("ts_ns div 1000")).cast(TimestampNTZType))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(staged.toString)
    val part = new java.io.File(staged.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
    dir.toString
  }

  private lazy val nanosDir = writeFixture("long_nanos")
  private lazy val microsDir = writeFixture("ts_ntz_micros")

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("Tables.events normalizes both physical ts encodings to identical ts_ns") {
    val a = collectSorted(Tables.events(spark, nanosDir).select("event_id", "ts_ns"))
    val b = collectSorted(Tables.events(spark, microsDir).select("event_id", "ts_ns"))
    assert(a == b)
    assert(a.nonEmpty)
    // and the derived timestamp column agrees too
    val ta = collectSorted(Tables.events(spark, nanosDir).select("event_id", "ts"))
    val tb = collectSorted(Tables.events(spark, microsDir).select("event_id", "ts"))
    assert(ta == tb)
  }

  test("batch event operators are encoding-invariant") {
    for (op <- Seq[DataFrame => DataFrame](
      EventOps.hourlyRollup, EventOps.sessionize, EventOps.errorClickJoin)) {
      val a = collectSorted(op(Tables.events(spark, nanosDir)))
      val b = collectSorted(op(Tables.events(spark, microsDir)))
      assert(a == b)
      assert(a.nonEmpty)
    }
  }

  test("streaming hourly rollup reads the timestamp[us] encoding") {
    val batch = collectSorted(EventOps.hourlyRollup(Tables.events(spark, microsDir)))
    val stream = collectSorted(
      EventOps.runHourlyStream(spark, microsDir, "graft_hourly_evschema"))
    assert(stream == batch)
  }

  test("ScaleUp derives from the current fixture generation (r8 driver-crash path)") {
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$src/events.parquet").exists())
    val dst = java.nio.file.Files.createTempDirectory("graft-evschema-scaleup").toString + "/d"
    ScaleUp.ensure(spark, src, dst, factor = 2)
    val base = Tables.events(spark, src)
    val derived = Tables.events(spark, dst)
    assert(derived.count() == 2 * base.count())
    // replica 1 carries the same instants shifted exactly +1 s
    val off = base.agg(max(col("event_id"))).head().getLong(0) + 1L
    val r0 = collectSorted(derived.where(col("event_id") < off).select("ts_ns"))
    val r1 = collectSorted(derived.where(col("event_id") >= off)
      .select((col("ts_ns") - 1000000000L).as("ts_ns")))
    assert(r0 == r1)
    assert(r0 == collectSorted(base.select("ts_ns")))

    // the sentinel is reused only while every layout input matches: a
    // file planted in dst survives a matching ensure, and a derivation
    // recorded under another layout line is redone (the plant is gone)
    val ok = java.nio.file.Paths.get(dst, "_GRAFT_SCALE_OK")
    val plant = new java.io.File(dst, "planted")
    def sentinel = new String(java.nio.file.Files.readAllBytes(ok), "UTF-8")
    val current = sentinel
    val files = math.max(spark.sparkContext.defaultParallelism, 16)
    assert(current.linesIterator.exists(_.startsWith(s"layout=v4 files=$files block_mb=")))
    assert(plant.createNewFile())
    ScaleUp.ensure(spark, src, dst, factor = 2)
    assert(plant.exists())
    java.nio.file.Files.write(ok, current.linesIterator.map(l =>
      if (l.startsWith("layout=")) ScaleUp.layoutLine(1, 1L) else l)
      .mkString("\n").getBytes("UTF-8"))
    ScaleUp.ensure(spark, src, dst, factor = 2)
    assert(!plant.exists())
    assert(sentinel == current)
    assert(Tables.events(spark, dst).count() == 2 * base.count())
  }

  test("streaming hourly rollup reads the long-nanos encoding") {
    val batch = collectSorted(EventOps.hourlyRollup(Tables.events(spark, nanosDir)))
    val stream = collectSorted(
      EventOps.runHourlyStream(spark, nanosDir, "graft_hourly_evschema_ns"))
    assert(stream == batch)
  }
}
