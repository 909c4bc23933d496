package graft

import graft.queries.Catalog

/** Smoke: every catalog query runs at sf0.001 and yields rows; the
  * oracle map stays consistent with the query map. (Value-level
  * correctness is the driver's DuckDB gate — tools/local_verify.py
  * replays it locally at sf0.01.)
  */
class CatalogSpec extends SparkSpec {

  test("oracle keys are a subset of query keys") {
    val qs = Catalog.queries.keySet
    val orphans = Catalog.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("query names are unique") {
    val names = Catalog.defs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("README's entry count matches the catalog (no doc drift)") {
    // README.md line: "- `graft.queries.Catalog` — N query entries, ..."
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = """Catalog` — (\d+) query entries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer states the catalog entry count")
    assert(m.get.group(1).toInt === Catalog.defs.size,
      s"README claims ${m.get.group(1)} entries; catalog has ${Catalog.defs.size}")
  }

  // Every oracle, pinned: an edit to any oracle's SQL (a fragment
  // spliced in, a family split, a whitespace change the driver would
  // see) changes this digest, so it shows in the test run as a
  // deliberate update of the constant rather than only in a
  // two-checkout `cmp` of oracle_sql.json.
  test("oracle SQL digest is pinned") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for ((name, sql) <- Catalog.oracleSql.toSeq.sorted)
      md.update(s"$name\t$sql\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val digest = md.digest().map(b => f"$b%02x").mkString
    assert(digest ===
      "abe3c5516868df587412c4147e6676b0d96865a152acadf3c9cf47620c92f0ea")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Output-type contract (Catalog scaladoc): every emitted column is
  // string/bigint/double/boolean. Anything else (int, decimal, raw
  // timestamp, array) risks a driver-side dtype hash mismatch — DuckDB
  // SUM(BIGINT) widens to HUGEINT, timestamps differ in precision — so
  // oracle-bearing entries are held to the strict set.
  private val AllowedTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, LongType, DoubleType, BooleanType)
  }

  for (q <- Catalog.defs) {
    test(s"${q.name} runs at sf0.001 with rows > 0") {
      val df = q.run(spark, sf)
      if (q.oracle.isDefined) {
        val bad = df.schema.fields
          .filterNot(f => AllowedTypes.contains(f.dataType))
          .map(f => s"${f.name}:${f.dataType.simpleString}")
        assert(bad.isEmpty,
          s"oracle-hashed columns outside string/bigint/double/boolean: ${bad.mkString(", ")}")
      }
      assert(df.count() > 0)
    }
  }
}
