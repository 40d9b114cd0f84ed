package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.expr.{NextBirthdayUtil, Scalars}
import graft.pipeline.SyncJob

/** Property-based checks (SURVEY.md §5.3) — scalacheck driven directly
  * (no scalatestplus bridge in the dependency set). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("formatIdentifier is idempotent (canonical form is a fixed point)") {
    val gen = Gen.oneOf(
      Gen.chooseNum(-99999L, 99999L).map(_.toString),
      Gen.chooseNum(-999.0, 999.0).map(d => f"$d%.3f"),
      Gen.alphaNumStr.suchThat(_.length < 20),
      Gen.const(""), Gen.const("  7.10  "))
    check(Prop.forAll(gen) { s =>
      val df = Seq(s).toDF("raw")
      val once = df.select(Scalars.formatIdentifier(col("raw")).as("f"))
        .collect()(0).getString(0)
      val twice = Seq(Option(once).getOrElse("")).toDF("raw")
        .select(Scalars.formatIdentifier(col("raw")).as("f"))
        .collect()(0).getString(0)
      (once == null && twice == null) || once == twice
    }, minSuccessful(30))
  }

  test("tolerantBool is total and stable (never throws, output in closed set or passthrough)") {
    val gen = Gen.oneOf(Gen.alphaNumStr, Gen.numStr,
      Gen.oneOf("true", "f", " Y ", "0.0", "", " 2 ", "-0"))
    check(Prop.forAll(gen) { s =>
      val out = Seq(s).toDF("raw")
        .select(Scalars.tolerantBool(col("raw")).as("b")).collect()(0).getString(0)
      out == null || out == "true" || out == "false" || out == s.trim.toLowerCase
    }, minSuccessful(30))
  }

  test("nextBirthday result is always within (today, today+366] and preserves month/day or Mar-1") {
    val dayGen = for {
      dob <- Gen.chooseNum(0L, 20000L)     // 1970..2024-ish
      today <- Gen.chooseNum(18000L, 22000L)
    } yield (dob.toInt, today.toInt)
    check(Prop.forAll(dayGen) { case (dob, today) =>
      val nb = NextBirthdayUtil.compute(dob, today)
      val nbd = java.time.LocalDate.ofEpochDay(nb.toLong)
      val dobd = java.time.LocalDate.ofEpochDay(dob.toLong)
      val sameAnniv = (nbd.getMonthValue, nbd.getDayOfMonth) ==
        (dobd.getMonthValue, dobd.getDayOfMonth) ||
        (dobd.getMonthValue == 2 && dobd.getDayOfMonth == 29 &&
          nbd.getMonthValue == 3 && nbd.getDayOfMonth == 1)
      nb >= today && nb <= today + 366 && sameAnniv
    }, minSuccessful(100))
  }

  test("mergeIdMap: applying any batch twice equals applying it once") {
    val keyGen = Gen.listOfN(6, Gen.chooseNum(1, 4))
    check(Prop.forAll(keyGen) { ks =>
      val base = Seq(("contacts", "k1", "OLD", tsAt(0)))
        .toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at")
      val batch = ks.zipWithIndex.map { case (k, i) =>
        ("contacts", s"k$k", s"N$i", tsAt(i + 1))
      }.toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at")
      val once = SyncJob.mergeIdMap(base, batch)
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      val twice = SyncJob.mergeIdMap(SyncJob.mergeIdMap(base, batch), batch)
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      once == twice
    }, minSuccessful(10))
  }

  test("mergeIdMapBucketed over any batch sequence equals full-rewrite mergeIdMap") {
    val batchGen = Gen.listOfN(2, Gen.listOfN(5,
      Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(0, 50))))
    check(Prop.forAll(batchGen) { batches =>
      val dir = java.nio.file.Files.createTempDirectory("graft-bm-").toString + "/map"
      var fullDf = Seq.empty[(String, String, String, java.sql.Timestamp)]
        .toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at")
      batches.zipWithIndex.foreach { case (b, bi) =>
        val batch = b.zipWithIndex.map { case ((k, t), i) =>
          ("contacts", s"k$k", s"B$bi-$i", tsAt(t))
        }.toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at")
        SyncJob.mergeIdMapBucketed(spark, dir, batch, numBuckets = 4)
        fullDf = SyncJob.mergeIdMap(fullDf, batch)
      }
      val bucketed = spark.read.parquet(dir)
        .select("natural_key", "hubspot_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val expected = fullDf.select("natural_key", "hubspot_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      bucketed == expected
    }, minSuccessful(5))
  }

  test("watermark monotonicity: successful runs never move the watermark backwards") {
    // property expressed over the ledger produced by consecutive runs
    val gen = Gen.listOfN(3, Gen.chooseNum(1L, 100L))
    check(Prop.forAll(gen) { deltas =>
      val dir = java.nio.file.Files.createTempDirectory("graft-wm-").toString
      var days = 0L
      var lastWm = 0L
      var ok = true
      deltas.zipWithIndex.foreach { case (d, i) =>
        days += math.max(1L, d) // scalacheck shrinking may go below the gen range
        val t = 1700000000000L + days * 86400000L
        val src = Seq(("K" + i, new java.sql.Timestamp(t)))
          .toDF("natural_key", "updated_at")
          .select(col("natural_key"), col("updated_at"),
            map(lit("k"), lit("v")).as("props"))
        val s = SyncJob.run(spark, src,
          SyncJob.Config("patients", "contacts", nowMs = 1750000000000L + i),
          dir, new StubTransport)
        s.highWatermarkMs.foreach { wm =>
          ok &&= wm >= lastWm
          lastWm = math.max(lastWm, wm)
        }
      }
      ok
    }, minSuccessful(5))
  }

  private def tsAt(i: Int) =
    new java.sql.Timestamp(1700000000000L + i * 1000L)

  test("bandCandidates: huge cap = exact pair set; any cap preserves connectivity") {
    // random banded frames: a few buckets, random small memberships
    val gen = for {
      nBuckets <- Gen.chooseNum(1, 4)
      members <- Gen.listOfN(nBuckets, Gen.nonEmptyListOf(Gen.chooseNum(0L, 30L)))
    } yield members.zipWithIndex.flatMap { case (ids, b) =>
      ids.distinct.map(id => (b, b.toLong, id))
    }
    check(Prop.forAll(gen) { rows =>
      rows.nonEmpty && {
        val banded = rows.toDF("band", "bits", "doc_id")
        // exact pair set per bucket, computed independently
        val expected = rows.groupBy(r => (r._1, r._2)).values.flatMap { bucket =>
          val ids = bucket.map(_._3).distinct.sorted
          for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
        }.toSet
        val uncapped = graft.ext.Extensions
          .bandCandidates(banded, Seq("band", "bits"), cap = 1000)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // cap=1: every multi-member bucket star-links — fewer edges, but
        // the union-find closure over them must equal the exact one
        val capped = graft.ext.Extensions
          .bandCandidates(banded, Seq("band", "bits"), cap = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            parent.getOrElseUpdate(x, x)
            if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
          }
          edges.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          parent.keys.map(k => k -> find(k)).toMap
        }
        uncapped == expected &&
          components(capped.toSeq) == components(expected.toSeq)
      }
    }, minSuccessful(10))
  }

  test("chunk rewrite conservation: every distinct chunk survives exactly once") {
    // tiny vocab + fixed-length docs force heavy chunk duplication;
    // the expected distinct-chunk count is recomputed independently in
    // plain Scala (grouped(20), the operator's segmentation contract)
    val gen = Gen.listOfN(8, Gen.listOfN(45, Gen.oneOf("a", "b", "c", "d")))
    check(Prop.forAll(gen) { docs =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      df.write.mode("overwrite").parquet("target/tmp-chunkprop/documents.parquet")
      val rw = graft.ext.Extensions.dedupChunkRewrite
        .fn(spark, "target/tmp-chunkprop").collect()
      spark.sqlContext.clearCache()
      val expectedDistinct = docs
        .flatMap(_.grouped(graft.ext.Extensions.ChunkTokens).map(_.mkString(" ")))
        .distinct.size
      val totKept = rw.map(_.getLong(3)).sum
      totKept == expectedDistinct &&
        rw.forall(r => r.getLong(3) <= r.getLong(2)) && // kept <= chunks
        rw.map(_.getLong(0)).toSet == docs.indices.map(_.toLong).toSet
    }, minSuccessful(6))
  }

  test("bigram LM: scores are non-negative because a context is at least its bigram") {
    // c(prev,cur) <= c(prev·) for every bigram by construction, so
    // every per-doc average of ln(c1/c2) must be >= 0; and a doc of n
    // tokens contributes exactly n-1 bigrams
    val gen = Gen.listOfN(6, Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z"))))
    check(Prop.forAll(gen) { docs =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      df.write.mode("overwrite").parquet("target/tmp-bgprop/documents.parquet")
      val out = graft.ext.Extensions.bigramLogprob
        .fn(spark, "target/tmp-bgprop").collect()
      spark.sqlContext.clearCache()
      out.forall(r => r.getDouble(2) >= 0.0) &&
        out.forall(r => r.getLong(1) == docs(r.getLong(0).toInt).size - 1)
    }, minSuccessful(6))
  }

  test("ShingleMinHash equals the array_min(transform(shingle_sha60)) form, codegen and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val perms = 16
    val text = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.listOf(Gen.oneOf('a', 'Z', ' ', 'é', 'ß', '日', '本', '\u0000')).map(_.mkString),
      Gen.listOf(Gen.oneOf("😀", "x", "語")).map(_.mkString),
      Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.alphaChar)).map(_.mkString),
      Gen.const(""), Gen.const(null: String))
    val case_ = for {
      texts <- Gen.listOfN(40, text)
      n <- Gen.choose(1, 7)
      mix <- Gen.oneOf(Gen.const(53919893334301279L), Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (texts, n, mix)
    check(Prop.forAll(case_) { case (texts, n, mix) =>
      val schema = StructType(Seq(StructField("text", StringType)))
      val rows = texts.map(Row(_))
      // a local relation folds the projection on the driver
      // (interpreted); an RDD-backed frame runs it in whole-stage codegen
      val frames = Seq(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
      val kernel = graft.expr.ColumnOps.shingleMinHash(col("text"), n, perms, mix)
      val hashed = graft.expr.ColumnOps.shingleSha60(col("text"), n)
      frames.forall { df =>
        val bad = (0 until perms).map { i =>
          not(kernel(i) <=> array_min(transform(hashed, h => h.bitwiseXOR(lit(i * mix)))))
        }.reduce(_ || _)
        df.filter(bad || (col("text").isNull =!= kernel.isNull)).count() == 0
      }
    }, minSuccessful(5))
  }

  private def minSuccessful(n: Int) =
    org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n)

  private def check(p: Prop, params: org.scalacheck.Test.Parameters): Unit = {
    val res = org.scalacheck.Test.check(params, p)
    assert(res.passed, res.status.toString)
  }
}
