package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Stage-timing probe for q_assoc_rules (VERDICT r12 #4): separates
  * the basket build (collect_set shuffle), the in-row pair explode +
  * (a,b) count shuffle, and the item-count side so the rewrite's
  * remaining cost can be attributed to a stage instead of guessed.
  *
  * Usage: runMain graft.tools.AssocProbe <sfDir>
  */
object AssocProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.Session.local()
    // experiment knob: ObjectHashAggregate's sort fallback (default 128
    // in-memory keys) — the basket build has ~50k keys/partition, so it
    // ALWAYS degrades to sort-based aggregation at the default
    sys.env.get("SPARK_GRAFT_OHA_FALLBACK").foreach(v =>
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v))
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[assoc] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // ---- full-query VARIANTS (arg 2 = "variants"): the r17 search
    // for the sub-6 s sf1 shape — each is the complete rule query
    // (joins + order + limit) so numbers are directly comparable to
    // the suite row ----
    if (args.length > 1 && args(1) == "variants") {
      import graft.functions.GraftFunctions
      def lineitem = Tables.load(spark, dir, "lineitem")
      def baskets = lineitem
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      def finish(rules: org.apache.spark.sql.DataFrame,
                 cnt: org.apache.spark.sql.DataFrame,
                 nOrders: org.apache.spark.sql.DataFrame) = rules
        .join(broadcast(cnt.as("ca")), col("a") === col("ca.pk"))
        .join(broadcast(cnt.as("cb")), col("b") === col("cb.pk"))
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("n_ab"),
          col("ca.n").as("n_a"), col("cb.n").as("n_b"),
          ((col("n_ab") * col("n_orders")).cast("double") /
            (col("ca.n") * col("cb.n")).cast("double")).as("lift"))
        .orderBy(desc("n_ab"), desc("lift"), col("a"), col("b"))
        .limit(200)
      def cntOfBaskets(b: org.apache.spark.sql.DataFrame) =
        b.select(explode(col("items")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      def variant(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val n = mk.count()
          println(f"[assoc] $label rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        }
      // B: r16 shape (struct pairs, baskets reused for cnt + nOrders)
      variant("B_r16") {
        val b = baskets
        val rules = b.select(explode(GraftFunctions.pairs(col("items"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= 2)
        finish(rules, cntOfBaskets(b), b.select(count(lit(1)).as("n_orders")))
      }
      // C: packed-long pair key (one 8-byte shuffle key, decode after filter)
      variant("C_packed") {
        val b = baskets
        val rules = b.select(explode(GraftFunctions.pairs(col("items"))).as("p"))
          .select((shiftleft(col("p.a").cast("long"), 32) + col("p.b")).as("pp"))
          .groupBy(col("pp")).agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= 2)
          .select(shiftright(col("pp"), 32).cast("int").as("a"),
            (col("pp").bitwiseAND(lit(0xFFFFFFFFL))).cast("int").as("b"), col("n_ab"))
        finish(rules, cntOfBaskets(b), b.select(count(lit(1)).as("n_orders")))
      }
      // D: baskets referenced ONCE (cnt + nOrders from a distinct(ok,pk) branch)
      variant("D_co_branch") {
        val co = lineitem.select(col("l_orderkey").as("ok"),
          col("l_partkey").as("pk")).distinct()
        val rules = baskets.select(explode(GraftFunctions.pairs(col("items"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= 2)
        finish(rules, co.groupBy(col("pk")).agg(count(lit(1)).as("n")),
          co.select(countDistinct(col("ok")).as("n_orders")))
      }
      // E: D + packed key
      variant("E_co_packed") {
        val co = lineitem.select(col("l_orderkey").as("ok"),
          col("l_partkey").as("pk")).distinct()
        val rules = baskets.select(explode(GraftFunctions.pairs(col("items"))).as("p"))
          .select((shiftleft(col("p.a").cast("long"), 32) + col("p.b")).as("pp"))
          .groupBy(col("pp")).agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= 2)
          .select(shiftright(col("pp"), 32).cast("int").as("a"),
            (col("pp").bitwiseAND(lit(0xFFFFFFFFL))).cast("int").as("b"), col("n_ab"))
        finish(rules, co.groupBy(col("pk")).agg(count(lit(1)).as("n")),
          co.select(countDistinct(col("ok")).as("n_orders")))
      }
      // F: checkpointed baskets + r16 shape (the r12-era shape, for reference)
      variant("F_checkpoint") {
        val b = baskets.localCheckpoint()
        val rules = b.select(explode(GraftFunctions.pairs(col("items"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= 2)
        finish(rules, cntOfBaskets(b), b.select(count(lit(1)).as("n_orders")))
      }
      spark.stop(); return
    }
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      val baskets = Tables.load(spark, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
        .localCheckpoint(false)
      time("basket build (collect_set shuffle + checkpoint)")(baskets.count())
      val pairs = baskets.select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      time("pair explode only (count)")(pairs.count())
      val rules = pairs
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 2)
      time("pair explode + (a,b) agg")(rules.count())
      val cnt = baskets.select(explode(col("items")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      time("item counts")(cnt.count())
    }
    spark.stop()
  }
}
