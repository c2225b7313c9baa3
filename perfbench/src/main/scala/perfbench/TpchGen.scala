package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped tables: the raw input the benchmark derives the
  * KF-shaped endpoints from. The same (scale factor, seed) always gives the
  * same rows. Row counts follow TPC-H (150k customers, 1.5M orders, 6M line
  * items, 10k suppliers and 200k parts per unit of scale). Foreign keys are
  * balanced: every nation has the same number of customers, every customer
  * the same number of orders and every order the same number of line items,
  * so all five studies are the same size and the seed changes content, not
  * volume. Line numbers are drawn from 1..7, so (orderkey, linenumber) pairs
  * repeat as in the reference test data and the builders' dedups have work
  * to do.
  */
object TpchGen {

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, lineitems: Long)

  def sizes(sf: Double): Sizes = {
    def n(perUnit: Double) = math.max(5L, math.round(perUnit * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000))
  }

  /** Writes the tables as `<table>.parquet` under `dir`, concurrently. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val sz = sizes(sf)
    def draw(salt: String, n: Long): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(n))
    def balanced(n: Long): Column = pmod(col("id") + lit(seed), lit(n))
    def pick(salt: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (draw(salt, values.size.toLong) + 1).cast("int"))
    def range(n: Long): DataFrame =
      spark.range(0, n, 1, math.max(1, math.min(4, (n / 100000L).toInt))).toDF()
    val tables = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def save(name: String, df: DataFrame): Unit = tables += name -> df

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      format_string("NATION%02d", col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(sz.customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      balanced(25).cast("int").as("c_nationkey"),
      (draw("c_acctbal", 1100000) / 100.0 - 1000.0).as("c_acctbal"),
      pick("c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", range(sz.suppliers).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      draw("s_nationkey", 25).cast("int").as("s_nationkey"),
      (draw("s_acctbal", 1100000) / 100.0 - 1000.0).as("s_acctbal")))
    save("orders", range(sz.orders).select(
      col("id").as("o_orderkey"),
      balanced(sz.customers).as("o_custkey"),
      pick("o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
      (draw("o_totalprice", 50000000) / 100.0).as("o_totalprice"),
      pick("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    save("lineitem", range(sz.lineitems).select(
      balanced(sz.orders).as("l_orderkey"),
      draw("l_partkey", sz.parts).as("l_partkey"),
      draw("l_suppkey", sz.suppliers).as("l_suppkey"),
      (draw("l_linenumber", 7) + 1).cast("int").as("l_linenumber"),
      (draw("l_quantity", 50) + 1).cast("double").as("l_quantity"),
      (draw("l_extendedprice", 10000000) / 100.0 + 900.0).as("l_extendedprice")))
    Parallel.writeParquet(tables.toSeq.map { case (n, df) => s"$dir/$n.parquet" -> df })
  }

  /** Resources each builder must emit for the chosen studies (region keys),
    * derived with SQL straight from the TPC-H tables in the way the battery's
    * `kf_counts_by_type` oracle does for all studies: one Practitioner,
    * Organization, PractitionerRole and ResearchStudy per study, one Patient
    * per customer of the study's nations, one Condition per order, one
    * Specimen per distinct (orderkey, linenumber), and so on.
    */
  def expectedCounts(spark: SparkSession, dir: String, studies: Seq[Int]): Map[String, Long] = {
    Seq("region", "nation", "customer", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"bench_$t")
    }
    val inStudies = studies.mkString(",")
    val sql =
      s"""WITH cust AS (
         |  SELECT c.* FROM bench_customer c JOIN bench_nation n ON c.c_nationkey = n.n_nationkey
         |  WHERE n.n_regionkey IN ($inStudies)),
         |ord AS (SELECT o.* FROM bench_orders o WHERE o.o_custkey IN (SELECT c_custkey FROM cust)),
         |li AS (SELECT l.* FROM bench_lineitem l WHERE l.l_orderkey IN (SELECT o_orderkey FROM ord))
         |SELECT 'practitioner' AS builder, count(*) AS n FROM bench_region WHERE r_regionkey IN ($inStudies)
         |UNION ALL SELECT 'organization', count(*) FROM bench_region WHERE r_regionkey IN ($inStudies)
         |UNION ALL SELECT 'practitioner_role', count(*) FROM bench_region WHERE r_regionkey IN ($inStudies)
         |UNION ALL SELECT 'research_study', count(*) FROM bench_region WHERE r_regionkey IN ($inStudies)
         |UNION ALL SELECT 'patient', count(*) FROM cust
         |UNION ALL SELECT 'proband_status', count(*) FROM cust
         |UNION ALL SELECT 'research_subject', count(*) FROM cust
         |UNION ALL SELECT 'family', count(DISTINCT c_nationkey) FROM cust
         |UNION ALL SELECT 'family_relationship', count(*) FROM bench_customer
         |  WHERE c_custkey % 2 = 1 AND (c_custkey IN (SELECT c_custkey FROM cust)
         |    OR c_custkey - 1 IN (SELECT c_custkey FROM cust))
         |UNION ALL SELECT 'disease', count(*) FROM ord
         |UNION ALL SELECT 'phenotype', count(*) FROM ord WHERE o_orderkey % 3 = 0
         |UNION ALL SELECT 'vital_status', count(*) FROM ord WHERE o_orderkey % 7 = 0
         |UNION ALL SELECT 'sequencing_center', count(DISTINCT l_suppkey) FROM li
         |UNION ALL SELECT 'specimen', count(DISTINCT l_orderkey, l_linenumber) FROM li
         |UNION ALL SELECT 'histopathology', count(DISTINCT l_orderkey, l_linenumber) FROM li
         |UNION ALL SELECT 'drs_document_reference',
         |  count(DISTINCT l_orderkey, l_linenumber, l_suppkey) FROM li""".stripMargin
    spark.sql(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}

/** Writes independent frames as concurrent Spark jobs, one thread per core. */
object Parallel {
  def writeParquet(frames: Seq[(String, DataFrame)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try frames.map { case (path, df) =>
        pool.submit(new Runnable {
          override def run(): Unit = df.write.mode("overwrite").parquet(path)
        })
      }.foreach(_.get())
    finally pool.shutdown()
  }
}
