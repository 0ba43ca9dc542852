package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the invariants of [[RelStress.scaleTo]]'s user-universe growth
  * model, which both scale harnesses (RelStress, tools.StreamStress)
  * and their committed BASELINE.md sweep tables rest on: a factor-k
  * copy must multiply fact rows by exactly k, keep each replica's
  * remapped keys DISJOINT (so fact-fact and windowed joins fan out
  * linearly, never across replicas), preserve per-user behavior
  * (event-time spans unshifted), and leave dimension tables
  * byte-identical, whether a table is one file or a directory. A
  * silent violation — overlapping key ranges, a shifted clock — would
  * turn the sweeps' "linear growth" readings into fixture artifacts. */
class ScaleToSpec extends AnyFunSuite with SparkTestSession {

  private val src = "/root/testdata/sf0.001"
  private lazy val out = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scaleto-spec-").toString
    RelStress.scaleTo(spark, src, dir, scale = 3, cpus = 4)
    dir
  }

  test("fact row counts multiply by exactly the factor") {
    for (t <- Seq("orders", "lineitem", "events")) {
      val n0 = Tables.load(spark, src, t).count()
      assert(Tables.load(spark, out, t).count() == 3 * n0, t)
    }
  }

  test("replica key ranges are disjoint and reconstruct the base") {
    val base = Tables.load(spark, src, "events")
    val stride = base.agg(max(col("event_id"))).head().getLong(0) + 1
    val scaled = Tables.load(spark, out, "events")
    // every scaled key maps back into the base range, 3 replicas deep
    val reps = scaled
      .select((col("event_id") / lit(stride)).cast("long").as("rep"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(reps == Seq(0L, 1L, 2L))
    // replica 0 IS the base fact, bit-for-bit (same columns, same rows)
    val cols = base.columns.sorted.map(col).toSeq
    assert(scaled.filter(col("event_id") < stride).select(cols: _*)
      .exceptAll(base.select(cols: _*)).isEmpty)
  }

  test("user universes are independent but event-time spans unshifted") {
    val base = Tables.load(spark, src, "events")
    val scaled = Tables.load(spark, out, "events")
    val uStride = base.agg(max(col("user_id"))).head().getLong(0) + 1
    // users partition into 3 disjoint populations of the base size
    assert(scaled.select(countDistinct(col("user_id"))).head().getLong(0)
      == 3 * base.select(countDistinct(col("user_id"))).head().getLong(0))
    // each replica's time span equals the base span — no per-rep shift
    val baseSpan = base.agg(min(col("ts")), max(col("ts"))).head()
    (0L until 3L).foreach { r =>
      val span = scaled
        .filter(col("user_id") >= r * uStride &&
          col("user_id") < (r + 1) * uStride)
        .agg(min(col("ts")), max(col("ts"))).head()
      assert(span == baseSpan, s"rep $r time span shifted")
    }
  }

  test("scaleToIfAbsent reuses a completed copy and re-scales on a factor change") {
    // the sweep-ladder contract (round 12): an A/B pair of single-JVM
    // runs over one rung shares one generated directory via the
    // completion sentinel — written LAST, so a crashed half-write
    // (no marker) regenerates, and a different factor into the same
    // dir invalidates the old marker
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scaleto-reuse-").toString
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 2, cpus = 4)
    val n0 = Tables.load(spark, src, "orders").count()
    assert(Tables.load(spark, dir, "orders").count() == 2 * n0)
    val marker = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.startsWith("_graft_scaled_"))
      .findFirst().get()
    val stamp = java.nio.file.Files.getLastModifiedTime(marker)
    // second call with the same (src, scale): pure lookup, no rewrite
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 2, cpus = 4)
    assert(java.nio.file.Files.getLastModifiedTime(marker) == stamp,
      "a completed copy must be reused, not regenerated")
    // marker gone -> a half-written dir regenerates
    java.nio.file.Files.delete(marker)
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 2, cpus = 4)
    assert(java.nio.file.Files.exists(marker),
      "a missing sentinel (crashed half-write) must regenerate")
    // a DIFFERENT factor invalidates: data and marker both replaced
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 3, cpus = 4)
    assert(!java.nio.file.Files.exists(marker),
      "a re-scale must drop the old factor's sentinel")
    assert(Tables.load(spark, dir, "orders").count() == 3 * n0)
  }

  test("a refreshed source corpus at the same path invalidates the sentinel") {
    // the sentinel digest folds in the source directory's content
    // fingerprint: a regenerated corpus at the SAME path must force a
    // re-scale, or every later rung would silently sweep data scaled
    // from the old vintage
    val srcCopy = java.nio.file.Files
      .createTempDirectory("graft-scaleto-vintage-src-")
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(src))
    try listing.forEach(p => java.nio.file.Files.copy(p,
      srcCopy.resolve(p.getFileName.toString)))
    finally listing.close()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scaleto-vintage-").toString
    RelStress.scaleToIfAbsent(spark, srcCopy.toString, dir, scale = 2, cpus = 4)
    def marker() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try l.filter(_.getFileName.toString.startsWith("_graft_scaled_"))
        .findFirst().get()
      finally l.close()
    }
    val m0 = marker()
    // "regenerate" the corpus: bump a table file's mtime past fs
    // granularity — the fingerprint (names+lengths+mtimes) changes
    val f = srcCopy.resolve("orders.parquet")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    RelStress.scaleToIfAbsent(spark, srcCopy.toString, dir, scale = 2, cpus = 4)
    assert(!java.nio.file.Files.exists(m0),
      "the old vintage's sentinel must be dropped on regeneration")
    assert(marker() != m0, "the new sentinel must carry the new vintage")
    Tables.deleteRecursively(srcCopy.toString)
    Tables.deleteRecursively(dir)
  }

  test("writing one harness's copy invalidates every other harness's sentinel in the dir") {
    // StressSmoke's copy into a RelStress dir rewrites orders, lineitem
    // and events UNSCALED; the relational sentinel must not survive
    // that, or scaleToIfAbsent would reuse unscaled facts as the 2× copy
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scaleto-cross-").toString
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 2, cpus = 4)
    val td = RelStress.Copy(RelStress.TdSentinel, "2x", Nil,
      Seq("orders", "lineitem", "events"))
    RelStress.ensureCopy(spark, src, dir, td) {}
    val n0 = Tables.load(spark, src, "orders").count()
    assert(Tables.load(spark, dir, "orders").count() == n0)
    assert(RelStress.copyDone(spark, src, dir, td))
    assert(!RelStress.copyDone(spark, src, dir, RelStress.relCopy(2)),
      "the relational sentinel survived a copy that overwrote its tables")
    RelStress.scaleToIfAbsent(spark, src, dir, scale = 2, cpus = 4)
    assert(Tables.load(spark, dir, "orders").count() == 2 * n0)
    assert(!RelStress.copyDone(spark, src, dir, td))
    Tables.deleteRecursively(dir)
  }

  test("a directory-form dimension table passes through whole, also over a previous copy") {
    // Spark writes tables as directories of part files (a scaled copy's
    // own orders.parquet is one): copying only the top-level entry left
    // an EMPTY directory, and a copy onto an existing directory threw
    val srcCopy = java.nio.file.Files
      .createTempDirectory("graft-scaleto-dirform-src-")
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(src))
    try listing.forEach(p => java.nio.file.Files.copy(p,
      srcCopy.resolve(p.getFileName.toString)))
    finally listing.close()
    java.nio.file.Files.delete(srcCopy.resolve("customer.parquet"))
    spark.read.parquet(s"$src/customer.parquet").repartition(2)
      .write.parquet(s"$srcCopy/customer.parquet")
    val n0 = Tables.load(spark, src, "customer").count()
    assert(n0 > 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scaleto-dirform-").toString
    RelStress.scaleTo(spark, srcCopy.toString, dir, scale = 2, cpus = 4)
    assert(Tables.load(spark, dir, "customer").count() == n0)
    RelStress.scaleTo(spark, srcCopy.toString, dir, scale = 3, cpus = 4)
    assert(Tables.load(spark, dir, "customer").count() == n0)
    Tables.deleteRecursively(srcCopy.toString)
    Tables.deleteRecursively(dir)
  }

  test("dimension tables pass through byte-identical") {
    for (t <- Seq("customer", "nation", "documents")) {
      val a = java.nio.file.Paths.get(s"$src/$t.parquet")
      val b = java.nio.file.Paths.get(s"$out/$t.parquet")
      assert(java.nio.file.Files.exists(b), t)
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(a),
        java.nio.file.Files.readAllBytes(b)), s"$t not byte-identical")
    }
  }
}
