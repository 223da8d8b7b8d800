package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobCounter
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaLog, IcebergTable, MergeSpec}

/** The keyed Delta MERGE as one bounded pass: the persisted source is
  * released on every exit, the gates refuse in their documented order
  * with their documented messages, deletion vectors survive the
  * rewrite, and the whole commit stages through one write. */
class DeltaMergeSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String =
    Files.createTempDirectory(s"graft-mrg-$name").toString + "/t"

  private def cachedEntries: Int = CacheEntries(spark)

  /** Runs `body`, then asserts it left no cache entry behind — on
    * success and when it throws alike. */
  private def noCacheLeft[T](body: => T): T = {
    val before = cachedEntries
    try body
    finally assert(cachedEntries === before, "merge left a cached frame behind")
  }

  /** Add-action paths of the commit at version `v`. */
  private def addedPaths(t: String, v: Long): Seq[String] = {
    val log = Files.readString(Paths.get(t, "_delta_log", f"$v%020d.json"))
    "\"add\":\\{\"path\":\"([^\"]+)\"".r.findAllMatchIn(log)
      .map(_.group(1)).toSeq
  }

  private def rows(t: String): Set[(Long, String, Int)] =
    DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet

  test("the persisted source is released after success, no-op and every refusal") {
    val t = table("release")
    // k is declared NOT NULL (primitive Long), v stays nullable
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val v0 = DeltaLog.snapshot(spark, t).version
    val v1 = noCacheLeft(DeltaLog.merge(spark, t,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k")))
    assert(v1 === v0 + 1)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    // empty source: no-op, current version back
    assert(noCacheLeft(DeltaLog.merge(spark, t,
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"))) === v1)
    // duplicate keys
    val dup = intercept[IllegalArgumentException] {
      noCacheLeft(DeltaLog.merge(spark, t,
        Seq((4L, "x"), (4L, "y")).toDF("k", "v"), Seq("k")))
    }
    assert(dup.getMessage.contains("duplicate keys"), dup.getMessage)
    // NOT NULL
    val nn = intercept[IllegalArgumentException] {
      noCacheLeft(DeltaLog.merge(spark, t,
        Seq((Option.empty[Long], "n"), (Some(5L), "e")).toDF("k", "v"),
        Seq("k")))
    }
    assert(nn.getMessage.contains("1 rows violate NOT NULL column k"), nn.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === v1)
  }

  test("every other keyed merge and upsert releases its source when it refuses") {
    val d = table("flex")
    val i = table("ice")
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), d)
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), i)
    val dup = Seq((2L, "x"), (2L, "y")).toDF("k", "v")
    val upsertAll = Seq(MergeSpec.Matched(None, delete = false,
      Seq("v" -> col(MergeSpec.SrcPrefix + "v"))))
    val insertAll = Seq(MergeSpec.NotMatched(None))
    Seq[() => Long](
      () => DeltaLog.mergeFlexible(spark, d, dup, Seq("k"), upsertAll, insertAll),
      () => IcebergTable.merge(spark, i, dup, Seq("k")),
      () => IcebergTable.mergeFlexible(spark, i, dup, Seq("k"), upsertAll, insertAll),
      () => IcebergTable.upsertEquality(spark, i, dup, Seq("k"))
    ).foreach { refused =>
      val e = intercept[IllegalArgumentException](noCacheLeft(refused()))
      assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    }
  }

  test("CHECK and NOT NULL violations refuse with row counts; duplicates refuse first") {
    val t = table("check")
    DeltaLog.write(spark, Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "n"), t)
    DeltaLog.addCheckConstraint(spark, t, "npos", "n > 0")
    val v = DeltaLog.snapshot(spark, t).version
    val ck = intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t,
        Seq((2L, "b", -1), (3L, "c", -2), (4L, "d", 4)).toDF("k", "p", "n"),
        Seq("k"))
    }
    assert(ck.getMessage.contains("2 rows violate CHECK constraint npos (n > 0)"),
      ck.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === v)
    assert(rows(t) === Set((1L, "a", 10), (2L, "b", 20)))
    // a source that is both ambiguous and violating refuses as ambiguous
    val dup = intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t,
        Seq((5L, "e", -1), (5L, "e", -1)).toDF("k", "p", "n"), Seq("k"))
    }
    assert(dup.getMessage.contains("duplicate keys"), dup.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === v)
    // a clean source still merges
    DeltaLog.merge(spark, t, Seq((2L, "b", 21)).toDF("k", "p", "n"), Seq("k"))
    assert(rows(t) === Set((1L, "a", 10), (2L, "b", 21)))
  }

  test("partitioned target with a deletion vector: rows move, DV-deleted rows stay deleted, one staging uniquifier") {
    val t = table("dv")
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (2L, "x", 20), (3L, "x", 30), (4L, "y", 40),
        (5L, "y", 50)).toDF("id", "p", "n").repartition(1),
      t, partitionBy = Seq("p"))
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.delete(spark, t, col("id") === 3L)
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(DeltaLog.snapshot(spark, t).files.exists(_.dv.isDefined))
    // id=2 moves from p=x to p=z (its file carries the DV: the
    // rewrite must not resurrect id=3); id=5 updates in place in p=y;
    // id=6 inserts
    val v = DeltaLog.merge(spark, t,
      Seq((2L, "z", 200), (5L, "y", 500), (6L, "x", 600)).toDF("id", "p", "n"),
      Seq("id"))
    assert(rows(t) === Set((1L, "x", 10), (2L, "z", 200), (4L, "y", 40),
      (5L, "y", 500), (6L, "x", 600)))
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.forall(_.dv.isEmpty), "both matched files rewrote")
    assert(after.files.filter(_.partitionValues.get("p").contains("z"))
      .forall(_.path.contains("p=z")))
    assert(DeltaLog.readWhere(spark, t, col("p") === "x")
      .select("id").as[Long].collect().toSet === Set(1L, 6L))
    // survivors of both rewritten partitions and the source adopted
    // through ONE staged write: one uniquifier across every add
    val adds = addedPaths(t, v).map(java.net.URLDecoder.decode(_, "UTF-8"))
    assert(adds.map(_.split('/').head).toSet === Set("p=x", "p=y", "p=z"))
    val uniq = adds.map(a => s"part-mrg-$v-([0-9a-f]{8})-".r
      .findFirstMatchIn(a).map(_.group(1)).getOrElse(fail(s"unexpected add $a")))
    assert(uniq.distinct.size === 1, adds)
  }

  test("a 3-file unpartitioned merge stays inside its job budget") {
    val t = table("jobs")
    DeltaLog.write(spark,
      spark.range(30).select(col("id").as("k"), (col("id") * 10).as("n"))
        .repartition(3, col("k")), t)
    assert(DeltaLog.snapshot(spark, t).files.size === 3)
    val src: DataFrame = Seq((4L, -4L), (100L, 1000L)).toDF("k", "n")
    val (_, jobs) = JobCounter(spark) {
      DeltaLog.merge(spark, t, src, Seq("k"))
    }
    // gate: 4 (the cache fill, the per-key and global aggregate
    // stages, the result); match detection: 2 (the source-key
    // broadcast the planner picks for the small materialized source,
    // the collect); the one staged write: 2 (broadcast, write)
    assert(jobs <= 8, s"$jobs jobs")
    assert(DeltaLog.read(spark, t).count() === 31L)
    assert(DeltaLog.read(spark, t).where(col("k") === 4L)
      .select("n").as[Long].head() === -4L)
  }
}
