package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A per-query
  * status.json distinguishes "query threw" (err + message) from "query
  * absent" — a broken operator must show up as an error, not a hole. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus, cpus, LocalSession.TableConfs: _*)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // local iteration knob: SPARK_GRAFT_VERIFY_ONLY=a11_chas,q6_x dumps
    // a subset; unset (the driver) dumps everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSet)
    val status = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> s"err: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/status.json"),
      status.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // SF-scoped fixture paths: oracles that read a fixture the paired
    // query dumped (a7_diameter_cert's witness list) carry the
    // __SF_TOKEN__ placeholder; both sides derive the same token from
    // sfDir, so a verify at another SF can't clobber this run's
    // fixtures between dump and oracle check
    val sfTok = ReaderHarness.sfToken(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__SF_TOKEN__", sfTok))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sf1-override oracles (certificate-form replacements for the
    // quadratic diameter closures): a SEPARATE file so the driver's
    // sf0.01 gate keeps judging by oracle_sql.json; tools/check_sf1.py
    // overlays these via CHECK_ORACLE_OVERRIDES
    val sf1Json = OracleSql.sf1Overrides
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__SF_TOKEN__", sfTok))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_sf1.json"), sf1Json)
    spark.stop()
  }
}
