package graft

import java.nio.file.{Files, Paths}

/** Writes QUERIES.md: the registry index (one row per query, schema
  * resolved lazily — no execution). Run: sbt "runMain graft.RegistryDump". */
object RegistryDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Dev.local("2", "ERROR", Dev.Utc)
    def group(n: String): String = n.split("_")(0) match {
      case "scan" | "project" | "filter" => "scan/project/filter"
      case "join" | "merge" | "setop" => "join/merge/setop"
      case "agg" | "window" => "aggregate/window"
      case "fn" => "scalar function"
      case "ext" => "extension (dedup/similarity/text)"
      case other => other
    }
    val rows = SparkEntry.registry.sortBy(q => (group(q.name), q.name)).map { q =>
      val schema = q.fn(spark, sfDir).schema
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
      val oracle = if (q.oracle.isDefined) "DuckDB hash-match" else "rows-only"
      // doubled leading pipe: stripMargin on the template eats one
      s"|| `${q.name}` | ${group(q.name)} | $oracle | $schema |"
    }
    val md =
      s"""# Query registry (generated by graft.RegistryDump — do not edit)
         |
         |${SparkEntry.registry.size} queries; every one runs in
         |`graft.Verify` and `graft.Bench`. "DuckDB hash-match" = exact
         |sorted-row comparison against the paired oracle SQL at sf0.01.
         |
         || query | group | correctness gate | output schema |
         ||---|---|---|---|
         ${rows.mkString("\n")}
         |""".stripMargin
    Files.writeString(Paths.get("QUERIES.md"), md)
    println(s"wrote QUERIES.md (${rows.size} rows)")
    spark.stop()
  }
}
