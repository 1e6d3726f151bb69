package perfbench

import java.nio.file.Path

/** Writes each pipeline entry's output as parquet, its DuckDB oracle SQL,
  * and its fingerprint, for `perfbench/oracle_check.py` to verify:
  * `DumpEntries <sfDir> <outDir>`.
  */
object DumpEntries {
  def main(args: Array[String]): Unit = {
    val Array(sf, out) = args
    val spark = graft.GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val oracles = graft.SparkEntry.oracleSql
    val fps = PipelineEntries.Entries.map { case (name, _) =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.write.mode("overwrite").parquet(s"$out/$name")
      val (rows, hash) = PipelineEntries.fingerprint(df)
      name -> Map("rows" -> rows, "hash" -> hash, "oracle" -> oracles.getOrElse(name, ""))
    }
    Recorder.Json.writeValue(Path.of(out, "entries.json").toFile, fps.toMap)
    spark.stop()
  }
}
