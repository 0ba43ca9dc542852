package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide contract checks at sf0.001: every query builds, returns
  * rows, and satisfies its structural invariants. (Value-level parity
  * with DuckDB is the external gate: graft.Verify + tools/check_oracle.)
  */
class RegistrySpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("every query has a doc and lowercase snake_case name") {
    SparkEntry.registry.foreach { case (name, q) =>
      assert(name.matches("[a-z0-9_]+"), name)
      assert(q.doc.nonEmpty, name)
    }
  }

  test("oracle SQL is defined for every query (strong correctness gate)") {
    val missing = SparkEntry.registry.collect {
      case (name, QueryDef(_, None, _)) => name
    }
    assert(missing.isEmpty, s"rows-only queries (weak check): $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, q) <- SparkEntry.registry.toSeq.sortBy(_._1)) {
    test(s"$name builds, runs, and has unique sorted-compatible columns") {
      val df = q.build(spark, sfDir)
      val cols = df.columns.toSeq
      assert(cols.distinct == cols, s"duplicate columns in $name")
      // The driver's correctness gate sorts output rows column-by-column
      // in pandas before hashing; a raw array/map/struct column makes
      // that sort throw ("unhashable type: numpy.ndarray" — the exact
      // r5 rel_orc_roundtrip failure). Every registry query must emit
      // only atomic driver-sortable types: project arrays through
      // posexplode / to_json / a checksum before returning.
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val unsortable = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.simpleString}"
      }
      assert(unsortable.isEmpty,
        s"$name emits driver-unsortable columns: ${unsortable.mkString(", ")}")
      val n = df.count()
      assert(n >= 0)
      withClue(s"$name should not be trivially empty at sf0.001: ") {
        // pair-finding queries may legitimately be empty at tiny SF;
        // everything else must produce rows
        val mayBeEmpty = Set("td_dedup_ngram_jaccard", "td_dedup_minhash_lsh",
          "td_dedup_simhash", "td_embed_neardup", "td_dedup_lsh_recall",
          // 150 names at sf0.001: the stop-gram cap (tf*20 <= n) leaves
          // too few signature grams for any candidate pair to form
          "rel_fuzzy_join_sig")
        assert(n > 0 || mayBeEmpty(name))
      }
    }
  }

  // Registered AFTER the per-query loop, so by the time it runs every
  // registry query has been built and executed in THIS session
  // (ScalaTest runs a suite's tests in registration order): proves no
  // build sets a bench-only conf as a side effect — the "correctness
  // gate never sets it" contract (graft.GraftConf, VERDICT r14 #5)
  // would silently break if a query self-tuned one of these and the
  // next query's oracle hash absorbed it.
  test("gate session leaves every bench-only conf unset") {
    val set = GraftConf.benchOnly.map(_.name)
      .filter(k => spark.conf.getOption(k).isDefined)
    assert(set.isEmpty,
      s"bench-only confs set under the correctness gate: $set")
  }
}
