package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare.
  *
  * `graft.Verify <sfDir> <outDir> [name,name,...]` — the optional third
  * argument restricts the dump to a comma-separated subset of entries
  * (local iteration only; the full correctness check passes two).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.get()
    try dump(spark, args(0), args(1), only)
    finally spark.stop()
  }

  /** Write `<outDir>/<name>/` parquet for every catalog entry (or only
    * those in `only`), `<outDir>/oracle_sql.json` with their oracle
    * SQL, and `<outDir>/_errors.json` with every failed entry's error.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Unit = {
    def keep(name: String): Boolean = only.forall(_.contains(name))
    Files.createDirectories(Paths.get(outDir))
    // per-query failures must surface, not vanish: a failed query gets
    // NO <name>/ parquet dir (so the driver records it as missing/err)
    // AND an entry in _errors.json so the failure is greppable from the
    // round artifacts. Round 8 lost 36 queries to silent swallowing.
    val errors = new java.util.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors.put(name, msg)
      }
      GraftSession.dropCaches(spark)
    }
    // Jackson escapes every control char — a tab or CR in an
    // oracle's SQL must not make the JSON unreadable
    val json = new ObjectMapper()
    json.writeValue(Paths.get(s"$outDir/oracle_sql.json").toFile,
      SparkEntry.oracleSql.filter(kv => keep(kv._1)).asJava)
    json.writeValue(Paths.get(s"$outDir/_errors.json").toFile, errors)
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keySet.asScala.mkString(", "))
  }
}
