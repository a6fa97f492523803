package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

/** TPC-H-shaped tables generated from the seed, and the read-back query
  * every run checks. The same seed gives the same rows in the same order:
  * values are xxhash64 draws keyed by (seed, row id, column), and each
  * table's row order is a seeded permutation. Sizes scale from the
  * lineitem row count with TPC-H's ratios. */
object Fixtures {

  val Tpch: Seq[String] = Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem")

  /** Primary keys where TPC-H has a single-column one (lineitem's is
    * composite, so it gets none). */
  val PrimaryKeys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey", "supplier" -> "s_suppkey",
    "customer" -> "c_custkey", "part" -> "p_partkey", "orders" -> "o_orderkey")

  def frames(spark: SparkSession, seed: Long, lineitemRows: Long, names: Seq[String]): Map[String, DataFrame] = {
    val l = lineitemRows
    val (nSupp, nCust, nPart, nOrd) = (math.max(10L, l / 600), math.max(10L, l / 40), math.max(10L, l / 30), l / 4)
    def u(k: Int, m: Long): String = s"pmod(xxhash64(${seed}L, id, $k), ${m}L)"
    def pick(k: Int, xs: String*): String =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), cast(${u(k, xs.size)} + 1 as int))"
    def days(k: Int, base: Long, span: Long): String = s"timestamp_seconds(${base}L + ${u(k, span)} * 86400)"
    val day0 = 694224000L // 1992-01-01
    val defs: Map[String, (Long, Seq[String])] = Map(
      "region" -> (5L -> Seq("cast(id as int) as r_regionkey",
        "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id + 1 as int)) as r_name")),
      "nation" -> (25L -> Seq("cast(id as int) as n_nationkey",
        "format_string('NATION_%02d', id) as n_name", "cast(pmod(id, 5) as int) as n_regionkey")),
      "supplier" -> (nSupp -> Seq("id + 1 as s_suppkey", "format_string('Supplier#%09d', id + 1) as s_name",
        s"cast(${u(1, 25)} as int) as s_nationkey", s"(${u(2, 1100000)} - 99999) / 100.0 as s_acctbal")),
      "customer" -> (nCust -> Seq("id + 1 as c_custkey", "format_string('Customer#%09d', id + 1) as c_name",
        s"cast(${u(1, 25)} as int) as c_nationkey", s"(${u(2, 1100000)} - 99999) / 100.0 as c_acctbal",
        s"${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} as c_mktsegment")),
      "part" -> (nPart -> Seq("id + 1 as p_partkey",
        s"concat_ws(' ', ${pick(1, "almond", "blush", "coral", "drab", "forest")}, " +
          s"${pick(2, "lace", "linen", "metallic", "navy", "olive")}) as p_name",
        s"format_string('Brand#%d%d', ${u(3, 5)} + 1, ${u(4, 5)} + 1) as p_brand",
        s"${pick(5, "STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "PROMO BRUSHED STEEL", "LARGE POLISHED NICKEL")} as p_type",
        s"cast(${u(6, 50)} + 1 as int) as p_size", s"(90000 + ${u(7, 110000)}) / 100.0 as p_retailprice")),
      "orders" -> (nOrd -> Seq("id + 1 as o_orderkey", s"${u(1, nCust)} + 1 as o_custkey",
        s"${pick(2, "F", "O", "P")} as o_orderstatus", s"(${u(3, 50000000)} + 100) / 100.0 as o_totalprice",
        s"${days(4, day0, 2406)} as o_orderdate",
        s"${pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} as o_orderpriority")),
      "lineitem" -> (l -> Seq("id div 4 + 1 as l_orderkey", s"${u(1, nPart)} + 1 as l_partkey",
        s"${u(2, nSupp)} + 1 as l_suppkey", "cast(id % 4 + 1 as int) as l_linenumber",
        s"cast(${u(3, 50)} + 1 as double) as l_quantity", s"(${u(4, 10000000)} + 90000) / 100.0 as l_extendedprice",
        s"${u(5, 11)} / 100.0 as l_discount", s"${u(6, 9)} / 100.0 as l_tax",
        s"${pick(7, "A", "N", "R")} as l_returnflag", s"${pick(8, "F", "O")} as l_linestatus",
        s"${days(9, day0, 2526)} as l_shipdate")),
      "events" -> (math.max(10L, l / 6) -> Seq("id + 1 as event_id", s"timestamp_seconds(1700000000L + ${u(1, 31536000)}) as ts",
        s"${u(2, nCust)} + 1 as user_id", s"${pick(3, "view", "click", "cart", "purchase")} as event_type",
        s"${u(4, 100000)} / 100.0 as value",
        s"""format_string('{"n":%d,"src":"web,app"}', ${u(5, 1000)}) as props""")))
    names.map { t =>
      val (rows, cols) = defs(t)
      t -> spark.range(rows).selectExpr(cols :+ s"xxhash64(${seed}L, id, 'perm:$t') as _perm": _*)
        .repartition(1).sortWithinPartitions("_perm").drop("_perm").cache()
    }.toMap
  }

  /** The seeded order of the tables in a dump file and in a Derby load. */
  def seededOrder(seed: Long, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  private def dec(c: String): Column = col(c).cast("decimal(18,2)")

  /** Q1-shaped decimal-sum aggregate over lineitem plus an orders x customer
    * group-by, rendered as sorted lines. Sums go through DECIMAL(18,2)
    * casts so every source path must reproduce them exactly. */
  def readback(lineitem: DataFrame, orders: DataFrame, customer: DataFrame): Seq[String] = {
    val q1 = lineitem.where(expr("cast(l_shipdate as date) <= date'1998-09-02'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)), sum(dec("l_quantity")), sum(dec("l_extendedprice")),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")) * (lit(1) + dec("l_tax"))))
    val q2 = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(count(lit(1)), sum(dec("o_totalprice")), sum(dec("c_acctbal")))
    (q1.collect().map("q1|" + _.mkString("|")) ++ q2.collect().map("q2|" + _.mkString("|"))).toSeq.sorted
  }

  /** Write `df` (one partition) as the single CSV file `path`. */
  def writeCsvFile(df: DataFrame, path: String): Unit = {
    val tmp = path + ".parts"
    df.write.mode("overwrite").option("header", "true").csv(tmp)
    val part = new File(tmp).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    require(part.length == 1, s"expected one CSV part in $tmp, found ${part.length}")
    Files.move(part.head.toPath, new File(path).toPath, StandardCopyOption.REPLACE_EXISTING)
    IO.delete(new File(tmp))
  }
}
