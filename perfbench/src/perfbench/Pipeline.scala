package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.medallion.{Bronze, Gold, Silver}
import graft.operators.Dedup
import graft.quality.QualityChecks
import graft.quality.QualityChecks.EntityConfig
import graft.sources.{DeltaLog, IcebergTable}

import Trace.span

/** Directory layout of one pipeline instance: tables and stream
  * checkpoints under a fresh root, reading the landing zones under
  * `landingRoot`. */
final case class Dirs(root: Path, landingRoot: Path) {
  def landing(e: String): String = landingRoot.resolve(e).toString
  def bronze(e: String): String = root.resolve(s"tables/bronze_$e").toString
  def silver(e: String): String = root.resolve(s"tables/silver_$e").toString
  def ckpt(e: String): String = root.resolve(s"checkpoints/$e").toString
  val dimCustomers: String = root.resolve("tables/gold_dim_customers").toString
  val dimProducts: String = root.resolve("tables/gold_dim_products").toString
  val fact: String = root.resolve("tables/gold_fact_sales").toString
  val quality: String = root.resolve("tables/quality").toString
  val tables: Path = root.resolve("tables")
}

/** The medallion pipeline as a user drives it through the library's
  * public entry points. Every call into a layer is wrapped in a span;
  * with tracing off the spans cost nothing. */
object Pipeline {
  val Entities = Seq("customers", "products", "orders")
  val OrderKeys = Seq("order_id", "items_line_no")
  val FactKeys = Seq("order_id", "line_no")
  val ZOrder = Seq("order_id", "customer_id")
  /** Small target so the gold fact spans several files and ZORDER
    * statistics have something to prune. */
  val OptimizeTargetBytes: Long = 256L << 10
  /** UniForm: every gold fact commit also publishes Iceberg metadata. */
  val FactProps = Map("delta.universalFormat.enabledFormats" -> "iceberg")

  val orderChecks: Seq[(String, Column)] = EntityConfig(pkCols = OrderKeys,
    dateCols = Seq("order_ts"), numCols = Seq("items_quantity")).checks
  val customerChecks: Seq[(String, Column)] = EntityConfig(pkCols = Seq("customer_id"),
    stringCols = Seq("name"), emailCol = Some("email")).checks
  val productChecks: Seq[(String, Column)] = EntityConfig(pkCols = Seq("product_id"),
    stringCols = Seq("category"), numCols = Seq("price")).checks

  def pks(e: String): Seq[String] = e match {
    case "customers" => Seq("customer_id")
    case "products" => Seq("product_id")
    case _ => OrderKeys
  }

  /** Streams every file under the entity's landing zone that the
    * checkpoint has not seen into the bronze Delta table. */
  def bronzeStream(spark: SparkSession, d: Dirs, e: String, schema: StructType): Unit =
    span("stream") {
      val q = Bronze.readStream(spark, d.landing(e), schema)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", d.ckpt(e))
        .trigger(Trigger.AvailableNow())
        .start(d.bronze(e))
      Trace.streamStarted(q.runId)
      q.awaitTermination()
    }

  def deltaWrite(spark: SparkSession, df: DataFrame, path: String): Long =
    span("delta.write")(DeltaLog.write(spark, df, path))

  def deltaRead(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val snap = span("delta.snapshot")(DeltaLog.snapshot(spark, path, versionAsOf = version))
    span("delta.read")(DeltaLog.readSnapshot(spark, snap))
  }

  def dimCustomers(silver: DataFrame): DataFrame =
    Gold.dimension(silver, "customer_id",
      Seq("customer_id" -> "customer_id", "name" -> "customer_name",
        "address_city" -> "city", "address_country" -> "country"),
      Map("city" -> initcap(trim(col("address_city"))),
        "country" -> initcap(trim(col("address_country")))))

  def dimProducts(silver: DataFrame): DataFrame =
    Gold.dimension(silver, "product_id",
      Seq("product_id" -> "product_id", "name" -> "product_name",
        "category" -> "category", "price" -> "list_price"),
      Map("category" -> lower(trim(col("category")))))
      .filter(col("list_price") > 0)

  /** Gold fact over silver order lines: broadcast joins to both dims,
    * the derived line value, and the fact's DQ filters. */
  def fact(lines: DataFrame, dimC: DataFrame, dimP: DataFrame): DataFrame =
    Gold.fact(lines,
      dims = Seq(
        (dimC.select("customer_id", "country"), col("customer_customer_id") === col("customer_id")),
        (dimP.select("product_id", "category"), col("items_product_id") === col("product_id"))),
      select = Seq(col("order_id"), col("items_line_no").as("line_no"), col("version"),
        col("customer_id"), col("product_id"),
        to_date(to_timestamp(col("order_ts"))).as("order_date"),
        col("country"), col("category"), col("items_quantity").as("quantity"),
        col("items_price").as("price"),
        round(col("items_quantity") * col("items_price"), 2).as("total_value")),
      filters = Seq(col("order_id").isNotNull, col("quantity") > 0,
        col("total_value") > 0, col("order_date").between("1900-01-01", "2100-01-01")))

  /** Violating rows of one entity, in the quality table's shape. */
  def violations(df: DataFrame, entity: String, checks: Seq[(String, Column)]): DataFrame =
    QualityChecks.tagViolations(df, checks).select(lit(entity).as("entity"),
      col("check_name"), to_json(struct(pks(entity).map(col): _*)).as("record_key"))

  def orphans(lines: DataFrame, dimP: DataFrame): DataFrame =
    QualityChecks.orphans(lines, dimP.select("product_id"), "items_product_id", "product_id")
      .select(lit("orders").as("entity"), lit("orphan_product").as("check_name"),
        to_json(struct(OrderKeys.map(col): _*)).as("record_key"))

  /** Bulk load of landed JSON: Bronze → Silver → Gold → DQ. Returns
    * the pinned bronze schemas (increments reuse them). */
  def bulk(spark: SparkSession, d: Dirs): Map[String, StructType] = {
    val schemas = Entities.map { e =>
      e -> span("bronze") {
        val schema = Bronze.inferSchema(spark, d.landing(e))
        bronzeStream(spark, d, e, schema)
        schema
      }
    }.toMap
    Entities.foreach { e =>
      span("silver") {
        val b = deltaRead(spark, d.bronze(e))
        deltaWrite(spark, Silver.transform(b, pks(e)), d.silver(e))
      }
    }
    span("gold.dims") {
      deltaWrite(spark, dimCustomers(deltaRead(spark, d.silver("customers"))), d.dimCustomers)
      deltaWrite(spark, dimProducts(deltaRead(spark, d.silver("products"))), d.dimProducts)
    }
    span("gold.fact") {
      deltaWrite(spark, fact(deltaRead(spark, d.silver("orders")),
        deltaRead(spark, d.dimCustomers), deltaRead(spark, d.dimProducts)), d.fact)
      span("delta.properties")(DeltaLog.setTableProperties(spark, d.fact, FactProps))
    }
    optimize(spark, d.fact)
    span("dq") {
      val lines = deltaRead(spark, d.silver("orders"))
      val v = violations(lines, "orders", orderChecks)
        .unionByName(orphans(lines, deltaRead(spark, d.dimProducts)))
        .unionByName(violations(deltaRead(spark, d.silver("customers")), "customers", customerChecks))
        .unionByName(violations(deltaRead(spark, d.silver("products")), "products", productChecks))
      deltaWrite(spark, v, d.quality)
    }
    schemas
  }

  def optimize(spark: SparkSession, fact: String): Unit =
    span("gold.optimize") {
      span("delta.optimize")(DeltaLog.optimize(spark, fact,
        targetFileBytes = OptimizeTargetBytes, zorderBy = ZOrder))
    }

  /** One landed increment of orders: Bronze append, Silver keep-latest
    * merge, Gold fact merge (the UniForm mirror advances with it), DQ
    * append. */
  def increment(spark: SparkSession, d: Dirs, schema: StructType): Unit = {
    val before = span("bronze") {
      val v = span("delta.snapshot")(DeltaLog.snapshot(spark, d.bronze("orders")).version)
      bronzeStream(spark, d, "orders", schema)
      v
    }
    val (all, lines) = span("silver") {
      val now = span("delta.snapshot")(DeltaLog.snapshot(spark, d.bronze("orders")).version)
      val fresh = span("delta.read")(DeltaLog.changes(spark, d.bronze("orders"), before, now))
        .drop("_change_type", "_commit_version")
      // exact redeliveries collapse here; late updates keep the newest
      val all = Silver.transform(fresh, OrderKeys :+ "version").localCheckpoint()
      val latest = Dedup.keepLatest(all.filter(col("order_id").isNotNull), OrderKeys, "version")
      val target = deltaRead(spark, d.silver("orders"))
        .select(OrderKeys.map(col) :+ col("version").as("__tv"): _*)
      // keep-latest against the table too: a stale redelivery never wins
      val src = latest.join(target, OrderKeys, "left")
        .filter(col("__tv").isNull || col("version") > col("__tv"))
        .select(all.columns.map(col): _*)
        .localCheckpoint()
      span("delta.merge")(DeltaLog.merge(spark, d.silver("orders"), src, OrderKeys))
      (all, src)
    }
    span("gold.fact") {
      val f = fact(lines, deltaRead(spark, d.dimCustomers), deltaRead(spark, d.dimProducts))
      span("delta.merge")(DeltaLog.merge(spark, d.fact, f, FactKeys))
    }
    span("dq") {
      deltaWrite(spark, violations(all, "orders", orderChecks)
        .unionByName(orphans(all, deltaRead(spark, d.dimProducts))), d.quality)
    }
  }

  /** Gold fact rows read back through the UniForm Iceberg mirror. */
  def icebergRead(spark: SparkSession, path: String): DataFrame = {
    span("iceberg.snapshot")(IcebergTable.snapshot(spark, path))
    span("iceberg.read")(IcebergTable.read(spark, path))
  }
}
