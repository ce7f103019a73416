package graft

import java.nio.file.{Files, Path}

import graft.io.ReportWriter
import graft.queries.ExportMissesQuery
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ExportMissesQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def commitsDf = {
    val s = spark
    import s.implicits._
    Fixtures.commitEvents.toDF()
  }

  test("golden export: rows, frequency, (freq desc, input asc) order") {
    val out = ExportMissesQuery.run(commitsDf).collect()
    assert(out.length === 5)
    // freq 2 group sorted by input asc across texts, then freq 1
    val expected = Seq(
      ("ashijie", "世界", "时节", 3, 2L),
      ("nihao", "你好", "你好", 1, 2L),
      ("nihao2", "你好", "侬好", 1, 2L),
      ("shijie", "世界", "时节", 2, 2L),
      ("ceshi", "测试", "测试", 7, 1L))
    val got = out.map { r =>
      (r.getAs[String]("用户输入"), r.getAs[String]("实际选择"),
        r.getAs[String]("程序预测"), r.getAs[Int]("选择排名"),
        r.getAs[Long]("错误频率"))
    }.toSeq
    assert(got === expected)
  }

  test("export row count equals miss count") {
    import graft.ops.EventOps
    assert(ExportMissesQuery.run(commitsDf).count() ===
      commitsDf.filter(EventOps.isMiss).count())
  }

  test("csv report round-trips through readCsvReport (BOM stripped)") {
    val tmp = Files.createTempDirectory("graft-csv-rt")
    val outFile = tmp.resolve("report.csv").toString
    ReportWriter.writeCsvReport(ExportMissesQuery.run(commitsDf), outFile)
    val back = ReportWriter.readCsvReport(spark, outFile)
    assert(back.columns.toSeq === Seq("用户输入", "实际选择", "程序预测",
      "选择排名", "错误频率"))
    assert(back.count() === 5)
  }

  test("csv report has utf-8 BOM, Chinese header, sorted body") {
    val tmp: Path = Files.createTempDirectory("graft-csv")
    val outFile = tmp.resolve("report.csv").toString
    ReportWriter.writeCsvReport(ExportMissesQuery.run(commitsDf), outFile)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(outFile))
    assert(bytes(0) === 0xEF.toByte && bytes(1) === 0xBB.toByte &&
      bytes(2) === 0xBF.toByte)
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    val lines = text.split("\n").toSeq
    assert(lines.head.trim === "用户输入,实际选择,程序预测,选择排名,错误频率")
    assert(lines(1).startsWith("ashijie,"))
    assert(lines.drop(1).count(_.nonEmpty) === 5)
  }
}
