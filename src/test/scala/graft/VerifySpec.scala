package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Verify.dump]] writes the correctness dump for exactly the
  * entries it is given: one parquet dir each, their oracle SQL, no
  * errors.
  */
class VerifySpec extends SparkSpec {

  test("dump on a subset writes its parquet dirs, oracle_sql.json and an empty _errors.json") {
    val names = Set("a1_grouped_counters", "a1_health_counters", "a1_salted_counters")
    val out = Files.createTempDirectory("graft_verify_spec")
    Verify.dump(spark, sf, out.toString, Some(names))
    def read(f: String) = new ObjectMapper().readTree(out.resolve(f).toFile)
    val oracle = read("oracle_sql.json")
    assert(oracle.fieldNames().asScala.toSet === names)
    assert(names.forall(n => oracle.get(n).asText() === SparkEntry.oracleSql(n)))
    val errors = read("_errors.json")
    assert(errors.isObject && errors.isEmpty, s"no entry may fail: $errors")
    for (n <- names) assert(Files.isDirectory(out.resolve(n)), s"$n has no parquet dir")
  }
}
