package perfbench

import java.io.File

import graft.operators.Relational
import graft.operators.Relational.Lookup
import graft.sinks.TableSink
import graft.sources.JsonTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's denormalizing ETL: JSON-line load, nation lookup,
  * two-hop join (flat) and join + nest (nested), truncate-and-load. */
final class DenormEtl extends Workload {
  val name = "denorm_etl"
  val cycle: Seq[String] = Seq("denorm")
  private var rows: Gen.TpchRows = _
  /** Fingerprints of the first op's outputs; every later op must match. */
  private var first = Map.empty[String, (Long, BigDecimal)]

  def inputs: Map[String, Any] = Map("scale_factor" -> DenormEtl.ScaleFactor, "nation_rows" -> rows.nation,
    "customer_rows" -> rows.customer, "orders_rows" -> rows.orders, "lineitem_rows" -> rows.lineitem)

  def prepare(c: Ctx): Unit = {
    rows = Gen.tpch(c.seed, DenormEtl.ScaleFactor, new File(c.dir, "json"), parts = c.cpus * 2)
    first = Map.empty
  }

  private def load(c: Ctx, t: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    c.layer("sources.json_load")(JsonTables.loadTable(c.spark, c.path(s"json/$t"), t, schema))

  /** One op is one pass of both reference pipelines over the exports:
    * the flat denorm, then the nested one, each written with
    * truncate-and-load. */
  def op(c: Ctx, kind: String): OpOut = {
    val nation = load(c, "nation", Gen.nationSchema)
    val cust = load(c, "customer", Gen.customerSchema)
    val orders = load(c, "orders", Gen.ordersSchema)
    val li = load(c, "lineitem", Gen.lineitemSchema)
    val named = c.layer("operators.lookup_replace")(Relational.lookupReplace(cust,
      Lookup(nation, "nation_n_nationkey", "nation_n_name", Seq("customer_c_nationkey"))))
    val co = c.layer("operators.inner_join_merge")(
      Relational.innerJoinMerge(named, orders, "customer_c_custkey", "orders_o_custkey"))
    val flat = c.layer("operators.inner_join_merge")(
      Relational.innerJoinMerge(co, li, "orders_o_orderkey", "lineitem_l_orderkey"))
    c.call("sinks.write_truncate")(TableSink.writeTruncate(flat, c.path("out/flat")))
    val items = c.layer("operators.inner_join_merge")(
      Relational.innerJoinMerge(orders, li, "orders_o_orderkey", "lineitem_l_orderkey")
        .withColumn("l_rev_cents",
          round(col("lineitem_l_extendedprice") * 100, 0).cast("long") *
            round((lit(1.0) - col("lineitem_l_discount")) * 100, 0).cast("long")))
    val nested = c.layer("operators.nest")(Relational.nest(cust, items,
      "customer_c_custkey", "orders_o_custkey", "order_items",
      sortChildBy = Seq("orders_o_orderkey", "lineitem_l_linenumber")))
    c.call("sinks.write_truncate")(TableSink.writeTruncate(nested, c.path("out/nested")))
    OpOut(rows.nation + rows.customer + rows.orders + rows.lineitem, Seq(c.path("out/flat"), c.path("out/nested")))
  }

  def check(c: Ctx, kind: String): Option[String] = {
    val Seq(flat, nested) = c.fingerprints(
      c.spark.read.parquet(c.path("out/flat")), c.spark.read.parquet(c.path("out/nested")))
    val got = Map("flat" -> flat, "nested" -> nested)
    if (first.isEmpty) first = got
    val bad = got.collect { case (k, fp) if fp != first(k) => s"$k output (rows, hash) $fp != first op's ${first(k)}" }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  override def verify(c: Ctx): Option[String] = {
    val want = replay(c)
    val bad = want.collect { case (k, fp) if first.get(k) != Some(fp) =>
      s"$k output (rows, hash) ${first.get(k)} != SQL replay $fp" }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** Both outputs recomputed in plain Spark SQL over the raw JSON,
    * without graft's loader or operators: (row count, row-hash sum).
    * Run once, after the measured loop. */
  private def replay(c: Ctx): Map[String, (Long, BigDecimal)] = {
    val s = c.spark
    Seq("nation" -> Gen.nationSchema, "customer" -> Gen.customerSchema,
      "orders" -> Gen.ordersSchema, "lineitem" -> Gen.lineitemSchema).foreach { case (t, sc) =>
      s.read.schema(sc).json(c.path(s"json/$t")).createOrReplaceTempView(s"pb_$t")
    }
    val flat = s.sql(
      """SELECT c.c_custkey, c.c_name, coalesce(n.n_name, CAST(c.c_nationkey AS STRING)),
        |       c.c_acctbal, c.c_mktsegment, o.*, l.*
        |FROM pb_customer c
        |LEFT JOIN (SELECT n_nationkey, max(n_name) AS n_name FROM pb_nation GROUP BY n_nationkey) n
        |  ON c.c_nationkey = n.n_nationkey
        |JOIN pb_orders o ON c.c_custkey = o.o_custkey
        |JOIN pb_lineitem l ON o.o_orderkey = l.l_orderkey""".stripMargin)
    val agg = s.sql(
      """SELECT o.o_custkey AS k, array_sort(collect_list(struct(
        |    o.o_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus, o.o_totalprice,
        |    o.o_orderdate, o.o_orderpriority, l.l_orderkey, l.l_partkey, l.l_suppkey,
        |    l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag,
        |    l.l_linestatus, l.l_shipdate,
        |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
        |      CAST(round((CAST(1.0 AS DOUBLE) - l.l_discount) * 100, 0) AS BIGINT)))) AS items
        |FROM pb_orders o JOIN pb_lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_custkey""".stripMargin)
    agg.createOrReplaceTempView("pb_items")
    val itemsType = agg.schema("items").dataType
    val nested = s.sql(
      "SELECT c.*, i.items FROM pb_customer c LEFT JOIN pb_items i ON c.c_custkey = i.k")
      .withColumn("items", coalesce(col("items"), array().cast(itemsType)))
    val Seq(f, n) = c.fingerprints(flat, nested)
    Map("flat" -> f, "nested" -> n)
  }
}

object DenormEtl {

  /** TPC-H scale of the exports: ~60,000 line items. At sf 0.1 one
    * denorm pass takes ~7 s on a 4-core VM, which with the corpus op
    * would leave a single `batch_etl` op per run; at sf 0.01 it takes
    * 1.3-2.4 s. */
  val ScaleFactor = 0.01
}
