package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent recomputation of the expected gold fact straight from
  * the generated records (no Bronze/Silver/Gold or table-format code),
  * and an order-independent fingerprint to compare tables with. */
object Check {
  /** Business columns of the gold fact with their canonical types;
    * lineage columns (ingest file, ingest timestamps) are left out. */
  val FactCols: Seq[(String, String)] = Seq("order_id" -> "bigint", "line_no" -> "bigint",
    "version" -> "bigint", "customer_id" -> "bigint", "product_id" -> "bigint",
    "order_date" -> "date", "country" -> "string", "category" -> "string",
    "quantity" -> "bigint", "price" -> "double", "total_value" -> "double")

  def canonical(df: DataFrame): DataFrame =
    df.select(FactCols.map { case (c, t) => col(c).cast(t).as(c) }: _*)

  /** (row count, sum of per-row 64-bit hashes as an exact decimal). */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
        lit(BigDecimal(0)).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def sourceLines(spark: SparkSession, orders: Seq[Order]): DataFrame = {
    import spark.implicits._
    orders.flatMap(o => o.items.map(i => SourceLine(o.order_id, o.version, o.order_ts,
      o.customer_id, i.line_no, i.product_id, i.quantity, i.price))).toDS().toDF()
  }

  /** The gold fact every delivery of `orders` must produce: the newest
    * version of each order line that names a known customer and
    * product, has a positive quantity and value, and a date in range. */
  def expectedFact(spark: SparkSession, customers: Seq[Customer], products: Seq[Product],
                   orders: Seq[Order]): DataFrame = {
    import spark.implicits._
    val lines = sourceLines(spark, orders).filter(col("order_id").isNotNull)
    val newest = lines.withColumn("__rn", row_number().over(
      Window.partitionBy("order_id", "line_no").orderBy(col("version").desc)))
      .filter(col("__rn") === 1)
    val cust = customers.toDS().dropDuplicates("customer_id")
      .select(col("customer_id").as("c_id"), initcap(trim(col("country"))).as("country"))
    val prod = products.toDS().dropDuplicates("product_id").filter(col("price") > 0)
      .select(col("product_id").as("p_id"), lower(trim(col("category"))).as("category"))
    canonical(newest.join(cust, col("customer_id") === col("c_id"))
      .join(prod, col("product_id") === col("p_id"))
      .withColumn("order_date", to_date(to_timestamp(col("order_ts"))))
      .withColumn("total_value", round(col("quantity") * col("price"), 2))
      .filter(col("quantity") > 0 && col("total_value") > 0 &&
        col("order_date").between("1900-01-01", "2100-01-01")))
  }
}
