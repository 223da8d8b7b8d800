package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, NearDup, SubstringDedup}
import graft.sources.DeltaLog
import graft.text.Curation

import Trace.span

/** Input sizes of one workload; `smoke` shrinks every one of them. */
final case class Sizes(customers: Int, products: Int, orders: Int, orderFiles: Int,
                       incOrders: Int, optimizeEvery: Int, docs: Int)

object Sizes {
  def apply(smoke: Boolean): Sizes =
    if (smoke) Sizes(customers = 60, products = 40, orders = 300, orderFiles = 2,
      incOrders = 10, optimizeEvery = 4, docs = 200)
    else Sizes(customers = 2000, products = 1000, orders = 6000, orderFiles = 8,
      incOrders = 60, optimizeEvery = 4, docs = 1000)
  val BulkMix = Mix(duplicate = 0.05, violation = 0.03, late = 0.0)
  val IncMix = Mix(duplicate = 0.1, violation = 0.05, late = 0.2)
  val BadCustomers = 0.02
}

/** One timed operation's outcome: its latency and how many items
  * (gold lines, delivered records, queries, docs) it completed. */
final case class OpResult(latencyMs: Double, items: Long)

/** A workload: a set-up in a fresh directory, a timed operation, and a
  * correctness check run after timing. */
trait Workload {
  def itemName: String
  /** Timed operations a run makes even when `--seconds` ran out. */
  def minOps: Int
  /** Build inputs and state under `dir` (JIT warm-up included). */
  def setup(dir: Path): Unit
  def op(i: Int): OpResult
  /** Check outputs against an independent recomputation. */
  def check(): Seq[String]
  /** Bytes under the workload's table directories per input byte. */
  def storedBytesPerInputByte(): Double
  /** Workload-specific per-layer numbers for a traced run (per op). */
  def layerExtras(): Map[String, Double] = Map.empty
  /** Table roots whose logs the traced run reads. */
  def tableRoots: Seq[Path]
}

object Workloads {
  val Names = Seq("medallion_bulk", "medallion_incremental", "gold_queries", "curation_dedup")

  def apply(name: String, spark: SparkSession, seed: Long, sz: Sizes): Workload = name match {
    case "medallion_bulk" => new Bulk(spark, seed, sz)
    case "medallion_incremental" => new Incremental(spark, seed, sz)
    case "gold_queries" => new GoldQueries(spark, seed, sz)
    case "curation_dedup" => new CurationDedup(spark, seed, sz)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def now(): Double = System.nanoTime() / 1e6

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Generated medallion inputs landed as JSON under `landing`. */
  final class Inputs(val gen: Gen, sz: Sizes, val landing: Path, orders: Int) {
    val customers: IndexedSeq[Customer] = gen.customers(sz.customers, Sizes.BadCustomers)
    val products: IndexedSeq[Product] = gen.products(sz.products)
    val orderRecs: IndexedSeq[Order] =
      gen.bulkOrders(orders, 1L, sz.customers, sz.products, Sizes.BulkMix)
    val bytes: Long =
      Json.writeFiles(landing.resolve("customers"), "customers",
        gen.shuffle(customers ++ customers.take(customers.size / 20)).map(Json.customer), 2) +
      Json.writeFiles(landing.resolve("products"), "products", products.map(Json.product), 1) +
      Json.writeFiles(landing.resolve("orders"), "orders", orderRecs.map(Json.order), sz.orderFiles)
    def orderLines: Long = orderRecs.map(_.items.size.toLong).sum
  }

  def factRows(spark: SparkSession, path: String): Long =
    DeltaLog.snapshot(spark, path).files.flatMap(_.stats).map { s =>
      "\"numRecords\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    }.sum

  def factCheck(spark: SparkSession, d: Dirs, expected: DataFrame): Seq[String] = {
    val got = Check.fingerprint(Check.canonical(DeltaLog.read(spark, d.fact)))
    val want = Check.fingerprint(expected)
    if (got == want) Nil else Seq(s"gold fact $got != recompute $want")
  }

  // ---------------------------------------------------------------

  /** One full load of nested JSON through Bronze → Silver → Gold → DQ. */
  final class Bulk(spark: SparkSession, seed: Long, sz: Sizes) extends Workload {
    val itemName = "gold fact lines"
    val minOps = 3
    private var in: Inputs = _
    private var last: Dirs = _
    private var root: Path = _
    def tableRoots: Seq[Path] = Seq(root)

    def setup(dir: Path): Unit = {
      root = dir
      in = new Inputs(new Gen(seed), sz, dir.resolve("landing"), sz.orders)
      // warm-up: the same pipeline over a slice of the input
      val warm = new Inputs(new Gen(seed + 1), sz, dir.resolve("warm-landing"), sz.orders / 8)
      Pipeline.bulk(spark, Dirs(dir.resolve("warm"), warm.landing))
    }

    def op(i: Int): OpResult = {
      val d = Dirs(root.resolve(s"load-$i"), in.landing)
      val t = now()
      Pipeline.bulk(spark, d)
      val ms = now() - t
      last = d
      OpResult(ms, factRows(spark, d.fact))
    }

    def check(): Seq[String] = {
      val dq = factRows(spark, last.quality)
      factCheck(spark, last, Check.expectedFact(spark, in.customers, in.products, in.orderRecs)) ++
        (if (dq > 0) Nil else Seq("no DQ violations routed"))
    }

    def storedBytesPerInputByte(): Double = dirBytes(last.tables).toDouble / in.bytes

    override def layerExtras(): Map[String, Double] = Map(
      "silver.kept_ratio" -> factRows(spark, last.silver("orders")).toDouble / in.orderLines,
      "dq.violations" -> factRows(spark, last.quality).toDouble)
  }

  // ---------------------------------------------------------------

  /** Committed base load, then small increments landed one at a time. */
  final class Incremental(spark: SparkSession, seed: Long, sz: Sizes) extends Workload {
    val itemName = "delivered order records"
    /** One optimize cycle: the median falls on plain increments, the
      * maximum usually on the optimizing one. */
    def minOps: Int = sz.optimizeEvery
    private var in: Inputs = _
    private var d: Dirs = _
    private var schema: org.apache.spark.sql.types.StructType = _
    private val latest = mutable.LinkedHashMap.empty[Long, Order]
    private val delivered = mutable.ArrayBuffer.empty[Order]
    private var bytes = 0L
    private var nextId = 0L
    def tableRoots: Seq[Path] = Seq(d.root)

    def setup(dir: Path): Unit = {
      in = new Inputs(new Gen(seed), sz, dir.resolve("landing"), sz.orders / 6)
      d = Dirs(dir, in.landing)
      schema = Pipeline.bulk(spark, d)("orders")
      latest.clear(); delivered.clear()
      in.orderRecs.filter(o => o.order_id != null && in.gen.isValid(o, sz.products))
        .foreach(o => latest(o.order_id) = o)
      delivered ++= in.orderRecs
      bytes = in.bytes
      nextId = sz.orders.toLong * 10
      land(-1) // warm-up increment
    }

    private def land(i: Int): Int = {
      val recs = in.gen.increment(sz.incOrders, nextId, sz.customers, sz.products,
        Sizes.IncMix, latest)
      nextId += sz.incOrders
      delivered ++= recs
      bytes += Json.writeFiles(in.landing.resolve("orders"), f"inc${i + 1}%05d",
        recs.map(Json.order), 1)
      Pipeline.increment(spark, d, schema)
      recs.size
    }

    def op(i: Int): OpResult = {
      // freshness runs from the file landing to the last commit returning
      val t = now()
      val n = span("increment") {
        val n = land(i)
        if ((i + 1) % sz.optimizeEvery == 0) Pipeline.optimize(spark, d.fact)
        n
      }
      OpResult(now() - t, n)
    }

    def check(): Seq[String] = {
      val viaIceberg = Check.fingerprint(Check.canonical(graft.sources.IcebergTable.read(spark, d.fact)))
      val viaDelta = Check.fingerprint(Check.canonical(DeltaLog.read(spark, d.fact)))
      factCheck(spark, d, Check.expectedFact(spark, in.customers, in.products, delivered.toSeq)) ++
        (if (viaIceberg == viaDelta) Nil else Seq(s"UniForm read $viaIceberg != Delta read $viaDelta"))
    }

    def storedBytesPerInputByte(): Double = dirBytes(d.tables).toDouble / bytes

    override def layerExtras(): Map[String, Double] = Map(
      "silver.kept_ratio" -> factRows(spark, d.silver("orders")).toDouble /
        delivered.map(_.items.size.toLong).sum)
  }

  // ---------------------------------------------------------------

  /** Analyst queries over the committed Gold tables (no commits). */
  final class GoldQueries(spark: SparkSession, seed: Long, sz: Sizes) extends Workload {
    val itemName = "queries"
    /** Enough queries that the tail has ten samples beyond it. */
    val minOps = 31
    private var in: Inputs = _
    private var d: Dirs = _
    private var bulkVersion = 0L
    private var truthLatest: DataFrame = _
    private var truthBulk: DataFrame = _
    private var cdfTruth: DataFrame = _
    private var plan: IndexedSeq[(String, Long)] = _
    private val firstResult = mutable.LinkedHashMap.empty[String, (Long, Array[Row])]
    def tableRoots: Seq[Path] = Seq(d.tables)

    /** Loads the gold fact straight from the generated records (the
      * medallion path to it is what medallion_incremental measures),
      * optimizes it, then appends a later batch of orders so time travel
      * and the change feed have history. */
    def setup(dir: Path): Unit = {
      in = new Inputs(new Gen(seed), sz, dir.resolve("landing"), sz.orders)
      d = Dirs(dir, in.landing)
      val later = in.gen.bulkOrders(sz.incOrders * 4, sz.orders * 10L, sz.customers,
        sz.products, Sizes.BulkMix)
      val states = Seq(in.orderRecs, in.orderRecs ++ later).map(recs =>
        Check.expectedFact(spark, in.customers, in.products, recs).cache())
      Pipeline.deltaWrite(spark, states(0), d.fact)
      DeltaLog.setTableProperties(spark, d.fact,
        Pipeline.FactProps + ("delta.enableChangeDataFeed" -> "true"))
      Pipeline.optimize(spark, d.fact)
      bulkVersion = DeltaLog.snapshot(spark, d.fact).version
      cdfTruth = states(1).join(states(0), Check.FactCols.map(_._1), "left_anti").cache()
      Pipeline.deltaWrite(spark, cdfTruth, d.fact)
      // the recomputed frames stay lazy: cached, they would count in the
      // heap the run reports
      (states :+ cdfTruth).foreach(_.unpersist())
      truthBulk = states(0)
      truthLatest = states(1)
      val r = new java.util.SplittableRandom(seed)
      val maxId = sz.orders.toLong
      val ts = Report.QueryTemplates
      plan = (0 until 4096).map(_ => (ts(r.nextInt(ts.size)), 1L + r.nextLong(maxId)))
      firstResult.clear()
      Report.QueryTemplates.foreach(t => run(t, 1L)) // warm-up
    }

    private def revenue(f: DataFrame, keys: Column*): DataFrame =
      f.groupBy(keys: _*).agg(sum(col("total_value").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("lines"))

    private def month: Column = date_trunc("month", col("order_date")).as("month")

    /** The query text of each template over a fact frame. */
    private def query(t: String, f: DataFrame, p: Long): DataFrame = t match {
      case "revenue_by_nation_month" => revenue(f, col("country"), month)
      case "topn_customers" =>
        revenue(f, col("country"), col("customer_id")).withColumn("rk", row_number().over(
          Window.partitionBy("country").orderBy(col("revenue").desc, col("customer_id"))))
          .filter(col("rk") <= 3 + p % 5)
      case "window_rank" =>
        revenue(f, col("category"), month).withColumn("rk", rank().over(
          Window.partitionBy("category").orderBy(col("revenue").desc)))
      case _ => revenue(f, col("country"))
    }

    private def lookup(lo: Long) = col("order_id").between(lo, lo + 40)

    /** The same template through the system under test. */
    private def system(t: String, p: Long): DataFrame = t match {
      case "range_lookup" => span("delta.read")(DeltaLog.readWhere(spark, d.fact, lookup(p)))
        .filter(lookup(p)).select(Check.FactCols.map(c => col(c._1)): _*)
      case "time_travel" => query(t, Pipeline.deltaRead(spark, d.fact, Some(bulkVersion)), p)
      case "cdf" =>
        val v = span("delta.snapshot")(DeltaLog.snapshot(spark, d.fact).version)
        query(t, span("delta.read")(DeltaLog.changes(spark, d.fact, bulkVersion, v))
          .filter(col("_change_type").isin("insert", "update_postimage")), p)
      case "iceberg_agg" => query(t, Pipeline.icebergRead(spark, d.fact), p)
      case _ => query(t, Pipeline.deltaRead(spark, d.fact), p)
    }

    private def truth(t: String, p: Long): DataFrame = t match {
      case "range_lookup" => truthLatest.filter(lookup(p))
      case "time_travel" => query(t, truthBulk, p)
      case "cdf" => query(t, cdfTruth, p)
      case _ => query(t, truthLatest, p)
    }

    private def run(t: String, p: Long): Array[Row] =
      span(s"query.$t")(system(t, p).collect())

    def op(i: Int): OpResult = {
      val (t, p) = plan(i % plan.size)
      val s = now()
      val rows = run(t, p)
      val ms = now() - s
      if (!firstResult.contains(t)) firstResult(t) = (p, rows)
      OpResult(ms, 1)
    }

    private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).toSeq.sorted

    def check(): Seq[String] = firstResult.toSeq.flatMap { case (t, (p, rows)) =>
      val want = sorted(truth(t, p).collect())
      if (sorted(rows) == want) Nil
      else Seq(s"query $t($p): ${rows.length} rows differ from the source recompute (${want.size} rows)")
    }

    def storedBytesPerInputByte(): Double = dirBytes(d.tables).toDouble / in.bytes
  }

  // ---------------------------------------------------------------

  /** Corpus curation: exact dedup + decontamination, MinHash near-dup
    * clusters, substring-span removal, one Delta write. */
  final class CurationDedup(spark: SparkSession, seed: Long, sz: Sizes) extends Workload {
    val itemName = "input docs"
    val minOps = 3
    private var root: Path = _
    private var docsPath: String = _
    private var holdPath: String = _
    private var exact: Set[Long] = Set.empty
    private var contaminated: Set[Long] = Set.empty
    private var nDocs = 0L
    private var inputBytes = 0L
    private var lastOut: String = _
    private val prints = mutable.ArrayBuffer.empty[(Long, BigDecimal)]
    private var candidates = 0.0
    private var verified = 0.0
    def tableRoots: Seq[Path] = Seq(root)
    val K = 20

    def setup(dir: Path): Unit = {
      import spark.implicits._
      root = dir
      val (docs, hold, ex, con) = new Gen(seed).corpus(sz.docs)
      exact = ex; contaminated = con; nDocs = docs.size
      docsPath = dir.resolve("corpus/docs.parquet").toString
      holdPath = dir.resolve("corpus/holdout.parquet").toString
      docs.toDS().repartition(4).write.parquet(docsPath)
      hold.toDS().coalesce(1).write.parquet(holdPath)
      inputBytes = dirBytes(dir.resolve("corpus"))
      prints.clear()
      curate(spark.read.parquet(docsPath).limit(sz.docs / 5), dir.resolve("warm").toString)
    }

    private def curate(docs: DataFrame, out: String): Unit = {
      val hold = spark.read.parquet(holdPath)
      val kept = span("curate.exact")(Curation.curate(docs, hold)
        .join(docs, "doc_id").select("doc_id", "text", "split", "n_tokens").localCheckpoint())
      val pairs = span("curate.minhash")(
        NearDup.minHashPairs(kept, "doc_id", "text").localCheckpoint())
      val survivors = span("curate.clusters")(Clusters.dedupPipeline(kept, pairs)
        .join(kept, "doc_id").localCheckpoint())
      span("curate.substring") {
        val clean = SubstringDedup.removeDuplicatedSpans(survivors, "doc_id", "text", K)
        Pipeline.deltaWrite(spark, survivors.drop("text").join(clean, "doc_id"), out)
      }
      NearDup.unpersistAll()
    }

    def op(i: Int): OpResult = {
      val out = root.resolve(s"curated-$i").toString
      val s = now()
      span("curate")(curate(spark.read.parquet(docsPath), out))
      val ms = now() - s
      lastOut = out
      prints += Check.fingerprint(DeltaLog.read(spark, out))
      OpResult(ms, nDocs)
    }

    def check(): Seq[String] = {
      import spark.implicits._
      val ids = DeltaLog.read(spark, lastOut).select("doc_id").as[Long].collect().toSet
      val leftExact = exact.intersect(ids)
      val leftCont = contaminated.intersect(ids)
      (if (leftExact.isEmpty) Nil else Seq(s"${leftExact.size} exact duplicates survived")) ++
        (if (leftCont.isEmpty) Nil else Seq(s"${leftCont.size} contaminated docs survived")) ++
        (if (prints.distinct.size <= 1) Nil else Seq(s"output differs between passes: $prints"))
    }

    def storedBytesPerInputByte(): Double =
      dirBytes(java.nio.file.Paths.get(lastOut)).toDouble / inputBytes

    override def layerExtras(): Map[String, Double] = {
      // LSH candidate pairs of the same corpus, counted apart from the
      // timed passes (the library returns verified pairs only)
      val docs = spark.read.parquet(docsPath)
      val kept = Curation.curate(docs, spark.read.parquet(holdPath)).join(docs, "doc_id")
      val sig = kept.select(col("doc_id"), NearDup.minHashSignature(col("text")).as("__sig"))
      candidates = NearDup.lshCandidates(NearDup.lshBands(sig, "doc_id", "__sig"), "doc_id").count()
      verified = NearDup.minHashPairs(kept, "doc_id", "text").count()
      NearDup.unpersistAll()
      Map("curate.candidates" -> candidates,
        "curate.verified_per_candidate" -> (if (candidates > 0) verified / candidates else 0.0))
    }
  }
}
