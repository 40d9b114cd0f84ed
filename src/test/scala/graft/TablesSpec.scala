package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables

/** The memoized-schema parquet read: same frame as a schema-less read,
  * no Spark job once warm, and a re-inference whenever the files or a
  * schema-affecting conf change. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameAsPlainRead(path: String): Unit = {
    val plain = spark.read.parquet(path)
    val memo = Tables.parquet(spark, path)
    assert(memo.schema == plain.schema)
    assert(rows(memo) == rows(plain))
  }

  test("schema memo: same schema and rows as spark.read.parquet, a warm read runs no job") {
    val docs = Tables.path(sf0001, "documents")
    sameAsPlainRead(docs)
    assert(jobsIn(Tables.parquet(spark, docs)) == 0, "warm read inferred the schema again")
  }

  test("schema memo: hive-partitioned dir; a new part or a changed nanosAsLong re-infers") {
    val dir = Files.createTempDirectory("tables-spec").resolve("fx").toString
    try {
      Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "s", "cell")
        .write.partitionBy("cell").parquet(dir)
      sameAsPlainRead(dir)
      assert(jobsIn(Tables.parquet(spark, dir)) == 0, "warm read inferred the schema again")
      // a new part file under a new partition: the listing changes
      Seq((4L, "d", 2)).toDF("id", "s", "cell").write.mode("append").partitionBy("cell").parquet(dir)
      assert(jobsIn(Tables.parquet(spark, dir)) == 1, "a new part did not re-infer")
      sameAsPlainRead(dir)
      assert(Tables.parquet(spark, dir).filter(col("cell") === 2).count() == 1)
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val before = spark.conf.getOption(key)
      spark.conf.set(key, (!before.contains("true")).toString)
      try assert(jobsIn(Tables.parquet(spark, dir)) == 1, "a changed nanosAsLong did not re-infer")
      finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }
}
