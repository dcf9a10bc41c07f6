package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Pins the tx tier's per-file stats, which come from the Parquet
  * footers a write just produced ([[TxTable.footerFacts]]):
  *  - they equal a Spark aggregate over the same files, with the
  *    manifest's conventions (a NaN-bearing or all-null column has no
  *    stat, a 0-row file yields no entry, a NULL key is rejected);
  *  - a stat and the pushed literal it is compared with are in one unit,
  *    so timestamp and date predicates answer exactly what the
  *    unfiltered DataFrame answers, also over manifests whose timestamp
  *    stats were written as seconds by a Spark cast. */
class TxFileStatsSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val dir = s"/tmp/graft_statsspec_p${ProcessHandle.current.pid}"

  private def fresh(name: String): String = {
    val r = s"$dir/$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
    r
  }

  private def partFiles(d: String): Seq[Path] = {
    val l = Files.list(Paths.get(d))
    try l.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toList.sortBy(_.toString)
    finally l.close()
  }

  /** The reference: one Spark aggregate over `file`, read back with the
    * conventions the manifest keeps (NaN or all-null: no stat). */
  private def reference(file: Path, key: String,
      statsCols: Seq[String]): TxTable.FileFacts = {
    val aggs = Seq(count(lit(1)), min(col(key).cast("long")),
      max(col(key).cast("long")),
      sum(when(col(key).isNull, 1L).otherwise(0L))) ++
      statsCols.flatMap(c => Seq(min(col(c).cast("double")),
        max(col(c).cast("double"))))
    val r = spark.read.parquet(file.toString).agg(aggs.head, aggs.tail: _*).head
    val stats = statsCols.zipWithIndex.flatMap { case (c, i) =>
      (Option(r.get(4 + 2 * i)), Option(r.get(5 + 2 * i))) match {
        case (Some(mn: Double), Some(mx: Double)) if !mn.isNaN && !mx.isNaN =>
          Some(c -> (mn, mx))
        case _ => None
      }
    }.toMap
    TxTable.FileFacts(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3), stats)
  }

  /** The manifest FileIndex behind a TxRelation DataFrame. */
  private def indexOf(df: DataFrame): TxFileIndex =
    df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(HadoopFsRelation(loc: TxFileIndex, _, _, _, _, _),
        _, _, _, _) => loc
    }.get

  private val StatsCols = Seq("v", "f", "d", "w", "n")

  /** 300 rows over 3 range files: a double with one NaN in the last
    * file, a float, a long-backed and a binary-backed decimal, and an
    * all-null double. */
  private def frame(keyType: String): DataFrame =
    spark.range(0, 300).select(
      (col("id") * 7 - 1000).cast(keyType).as("k"),
      when(col("id") === 250, lit(Double.NaN))
        .otherwise(col("id") * 1.5 - 40).as("v"),
      (col("id") / 3).cast("float").as("f"),
      (col("id") * 1.25).cast("decimal(10,2)").as("d"),
      (col("id") * 3.5 - 7).cast("decimal(22,2)").as("w"),
      lit(null).cast("double").as("n"))
      .repartitionByRange(3, col("k"))

  test("footer facts equal a Spark aggregate over the same staged files") {
    for (kt <- Seq("int", "long")) {
      val d = fresh(s"parity_$kt")
      frame(kt).write.parquet(d)
      val files = partFiles(d)
      files should have size 3
      files.foreach { p =>
        val got = TxTable.footerFacts(p, "k", StatsCols)
        got shouldBe reference(p, "k", StatsCols)
        got.rows shouldBe 100L
        got.stats.keySet should contain allOf ("f", "d", "w")
        got.stats.keySet should not contain "n" // all null: no stat
      }
      // the NaN lives in exactly one file, and only there `v` has no stat
      files.count(p =>
        !TxTable.footerFacts(p, "k", StatsCols).stats.contains("v")) shouldBe 1
    }
  }

  test("an empty output partition yields a 0-row file and no manifest entry") {
    val d = fresh("empty_file")
    frame("long").limit(0).coalesce(1).write.parquet(d)
    val Seq(p) = partFiles(d)
    val got = TxTable.footerFacts(p, "k", StatsCols)
    got.rows shouldBe 0L
    got.stats shouldBe empty
    got.copy(minK = 0L, maxK = 0L) shouldBe reference(p, "k", StatsCols)
    // a write of an empty frame commits no file, at one and many files
    for (n <- Seq(1, 4)) {
      val r = fresh(s"empty_table_$n")
      TxTable.create(spark, r, frame("long").limit(0), "k", nFiles = n,
        statsCols = StatsCols)
      TxTable.snapshot(r).files shouldBe empty
      TxTable.read(spark, r).collect() shouldBe empty
    }
  }

  test("a NaN-bearing file has no stat and is not pruned by v > 5") {
    val r = fresh("nan_table")
    val df = frame("long")
    TxTable.create(spark, r, df, "k", nFiles = 3, statsCols = Seq("v"))
    val files = TxTable.snapshot(r).files
    files should have size 3
    files.count(!_.stats.contains("v")) shouldBe 1
    val want = df.filter(col("v") > 5).count()
    val q = TxRelation.read(spark, r).filter(col("v") > 5)
    q.count() shouldBe want
    // NaN > 5 holds in Spark: the NaN row is part of the answer
    TxRelation.read(spark, r).filter(col("v") > 1000).count() shouldBe 1L
  }

  test("a NULL key is rejected with the same message and leaves no staging") {
    val withNull = spark.range(0, 50).select(
      when(col("id") === 7, lit(null)).otherwise(col("id")).as("k"),
      col("id").cast("double").as("v"))
    val r = fresh("null_key")
    val e = the[IllegalArgumentException] thrownBy
      TxTable.create(spark, r, withNull, "k", nFiles = 1)
    e.getMessage shouldBe "tx table cluster key 'k' must be non-null"
    new java.io.File(r).list().toSeq
      .filter(n => n.startsWith("staging-") || n.endsWith(".parquet")) shouldBe empty
    // the range writer and the append path reject it the same way
    TxTable.create(spark, r, spark.range(100, 110).select(col("id").as("k"),
      col("id").cast("double").as("v")), "k", nFiles = 1)
    val e2 = the[IllegalArgumentException] thrownBy
      TxTable.append(spark, r, withNull, nFiles = 3)
    e2.getMessage shouldBe e.getMessage
    new java.io.File(r).list().toSeq.filter(_.startsWith("staging-")) shouldBe empty
    TxTable.snapshot(r).version shouldBe 0L
    TxTable.read(spark, r).count() shouldBe 10L
  }

  /** 1000 rows, ts = 1.7e9 s + id·60 and d = 2024-01-01 + id days. */
  private def timed: DataFrame =
    spark.range(0, 1000).select(col("id").as("k"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"),
      col("id").cast("double").as("v"))

  private def at(id: Long) = timed.filter(col("k") === id)
    .select("ts", "d").head

  /** (tx relation count, unfiltered DataFrame count, files listed). */
  private def answer(r: String, p: org.apache.spark.sql.Column) = {
    val q = TxRelation.read(spark, r).filter(p)
    val n = q.count()
    (n, timed.filter(p).count(), indexOf(q).lastListedFiles)
  }

  test("timestamp and date stats columns answer like the unfiltered frame") {
    val row = at(500)
    val (ts500, d500) = (row.getTimestamp(0), row.getDate(1))
    val preds = Seq(col("ts") > lit(ts500), col("ts") <= lit(ts500),
      col("ts") === lit(ts500), col("ts").isin(ts500),
      col("d") > lit(d500), col("d") < lit(d500), col("d") === lit(d500),
      col("d").isin(d500))
    // the session's timestamp encoding (INT96 has no footer stats) and
    // micros (footer stats, stored in seconds)
    for (enc <- Seq(None, Some("TIMESTAMP_MICROS"))) {
      val r = fresh(s"units_${enc.getOrElse("default")}")
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getOption(key)
      enc.foreach(spark.conf.set(key, _))
      try TxTable.create(spark, r, timed, "k", nFiles = 4,
        statsCols = Seq("ts", "d"))
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      preds.foreach { p =>
        val (got, want, _) = answer(r, p)
        withClue(s"$enc $p: ") { got shouldBe want }
      }
      answer(r, col("ts") > lit(ts500))._1 shouldBe 499L
      // date stats exist and prune
      answer(r, col("d") > lit(d500))._3 should be < 4
      if (enc.isDefined) answer(r, col("ts") > lit(ts500))._3 should be < 4
    }
  }

  test("a manifest with seconds-valued timestamp stats does not mis-prune") {
    // rewrite a table's v0 with the stats a Spark cast(ts as double)
    // aggregate writes: seconds, not the literal's internal micros
    val src = fresh("legacy_src")
    TxTable.create(spark, src, timed, "k", nFiles = 4)
    val r = fresh("legacy")
    Files.createDirectories(Paths.get(r, "_log"))
    val mapper = new ObjectMapper()
    val lines = Files.readAllLines(Paths.get(src, "_log", "00000000.json"))
      .asScala.filter(_.nonEmpty).map { l =>
        val n = mapper.readTree(l).asInstanceOf[ObjectNode]
        if (n.get("t").asText == "add") {
          val path = n.get("path").asText
          Files.copy(Paths.get(src, path), Paths.get(r, path))
          val s = spark.read.parquet(s"$src/$path")
            .agg(min(col("ts").cast("double")), max(col("ts").cast("double"))).head
          val st = n.putObject("st").putArray("ts")
          st.add(s.getDouble(0)); st.add(s.getDouble(1))
        }
        mapper.writeValueAsString(n)
      }
    Files.write(Paths.get(r, "_log", "00000000.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    TxTable.snapshot(r).files.count(_.stats.contains("ts")) shouldBe 4
    val ts500 = at(500).getTimestamp(0)
    val (got, want, listed) = answer(r, col("ts") > lit(ts500))
    got shouldBe 499L
    want shouldBe 499L
    listed should be < 4 // the seconds stats still prune
    Seq(col("ts") <= lit(ts500), col("ts") === lit(ts500),
      col("ts").isin(ts500)).foreach { p =>
      val (g, w, _) = answer(r, p)
      withClue(s"$p: ") { g shouldBe w }
    }
  }
}
