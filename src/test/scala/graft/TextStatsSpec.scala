package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.TextScan
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.stream.Windows

/** The custom TextStats Catalyst expression must be byte-exact with the
  * regex formulation it replaces (email / SSN PII, \S+ token count,
  * char length) — checked on adversarial literals, the PII-planted
  * transcript fixture, and the driver documents table.
  */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  private def assertEquivalent(df: org.apache.spark.sql.DataFrame): Unit = {
    val fast = Windows.withQualityFlags(df)
      .select(col("text"), col("text_len"), col("n_tokens"), col("has_pii"))
    val slow = Windows.withQualityFlagsRegex(df)
      .select(col("text"), col("text_len"), col("n_tokens"), col("has_pii"))
    val d1 = fast.exceptAll(slow).collect()
    val d2 = slow.exceptAll(fast).collect()
    assert(d1.isEmpty && d2.isEmpty,
      s"divergence: fast-only=${d1.take(3).mkString("; ")} regex-only=${d2.take(3).mkString("; ")}")
  }

  test("scanner equals regexes on adversarial literals") {
    val cases = Seq(
      "plain words only",
      "mail me at some.user+tag@sub-domain.example.org today",
      "a@b.co", "a@b.c", "@x.com", "x@.com", "x@com", "x@y.", "x@y..z",
      "a@b.c2", "a@b.2c", "_@x.io", "%odd%@ok-host.net",
      "123-45-6789", "a123-45-6789", "123-45-67890", " 999-99-9999 ",
      "x 123-45-6789.", "123-45-678", "12-345-6789", "123--45-6789",
      "end with ssn 078-05-1120", "078-05-1120_suffix",
      "tabs\tand\nnewlines\r\nmix  double  spaces ", "", " ", "  \t ",
      "unicode héllo wörld — em–dash…", "中文 文本 分词",
      "mixed 李@例.com ascii@host.org", "trailing@dot.com.",
      "a@-.xx", "a@x-y.zz", "dot@.a.bc")
    assertEquivalent(cases.zipWithIndex.map(_.swap).toDF("id", "text"))
  }

  test("scanner's char count equals UTF8String.numChars on multibyte and malformed bytes") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val literal = Seq("", "é", "中文 文本", "emoji 😀 pair", "unicode héllo wörld — em–dash…")
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val malformed = Seq(
      bytes(0x80), bytes(0xbf, 0xbf, 0x41), bytes(0xc0, 0x41), bytes(0xc1, 0x80),
      bytes(0xc3), bytes(0xe4, 0xb8), bytes(0xe0, 0x41, 0x42, 0x43), bytes(0xf0, 0x9f, 0x98),
      bytes(0x41, 0xf4, 0x8f, 0xbf, 0xbf, 0x41), bytes(0xf5, 0xff, 0xfe, 0x20),
      bytes(0x61, 0x40, 0xe2, 0x82, 0x62, 0x2e, 0x63, 0x6f))
    // seeded random bytes, weighted towards lead and continuation bytes
    val rng = new scala.util.Random(71)
    val random = Seq.fill(2000)(Array.fill(rng.nextInt(24))(
      (if (rng.nextInt(3) == 0) rng.nextInt(128) else 128 + rng.nextInt(128)).toByte))
    for (b <- literal ++ malformed ++ random) {
      val expected = UTF8String.fromBytes(b).numChars()
      val packed = TextScan.pack(UTF8String.fromBytes(b))
      assert((packed >>> 32) == expected, s"bytes ${b.map(x => f"${x & 0xff}%02x").mkString(" ")}")
    }
  }

  test("scanner equals regexes on PII-planted transcripts and documents") {
    val turns = DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 40, turnsPerConv = 20, piiPermille = 200, seed = 31))
    assertEquivalent(turns.select("text"))
    assertEquivalent(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text"))
  }

  test("expression participates in whole-stage codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Windows.withQualityFlags(docs.select("text"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(1)" prefix marks operators inside WholeStageCodegen stage 1
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("text_stats"), plan)
    assert(df.count() == 500)
  }
}
