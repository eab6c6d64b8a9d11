package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the given rows as one JSON object, for
  * the benchmark to run in DuckDB when it derives the expected hashes.
  *
  * Usage: OracleSql --rows r1,r2,... --out file.json
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rows = kv("rows").split(",").filter(_.nonEmpty)
    val sql = graft.SparkEntry.oracleSql
    val missing = rows.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(",")}")
    val doc = Json.Obj(rows.map(r => r -> (Json.Str(sql(r)): Json.Value)).toSeq: _*)
    Files.write(Paths.get(kv("out")), doc.render.getBytes(StandardCharsets.UTF_8))
  }
}
