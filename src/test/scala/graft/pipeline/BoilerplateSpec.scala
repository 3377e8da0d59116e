package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Span-level boilerplate strip: CCNet semantics over the interleaved
  * Doc shape — cross-doc repeated text spans removed, media untouched,
  * order/offsets preserved on the retained subsequence. */
class BoilerplateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val footer = "© 2026 Example Corp — all rights reserved"
  private val nav = "Home | About | Contact"

  private def fixture: Seq[Doc] = Seq(
    Doc("d0", Seq(
      Span("text", nav, "", 0),
      Span("text", "unique body zero", "", 1),
      Span("image", "", "media://0/2", 2),
      Span("text", footer, "", 3))),
    Doc("d1", Seq(
      Span("text", nav, "", 0),
      Span("image", "", "media://1/1", 1),
      Span("text", "unique body one", "", 2),
      Span("text", footer, "", 3),
      Span("text", null, "", 4))),
    Doc("d2", Seq(
      Span("text", nav, "", 0),
      Span("text", footer, "", 1))),
    // null-text spans in two docs: kept out of the dictionary, passed through
    Doc("d3", Seq(
      Span("text", "all alone here", "", 0),
      Span("text", null, "", 1))))

  test("repeated spans stripped, media and unique spans kept in order") {
    import spark.implicits._
    val res = Boilerplate.strip(spark.createDataset(fixture), minDf = 2)
    assert(!res.truncated && res.dictSize == 2) // nav + footer
    val out = res.docs.collect().map(d => d.doc_id -> d.spans).toMap
    assert(out("d0") == Seq(
      Span("text", "unique body zero", "", 1),
      Span("image", "", "media://0/2", 2)))
    assert(out("d1") == Seq(
      Span("image", "", "media://1/1", 1),
      Span("text", "unique body one", "", 2),
      Span("text", null, "", 4)))
    // a doc that was ALL boilerplate survives with an empty span array
    assert(out("d2").isEmpty)
    assert(out("d3") == Seq(
      Span("text", "all alone here", "", 0),
      Span("text", null, "", 1)))
  }

  test("maxDict bounds the dictionary deterministically and reports truncation") {
    import spark.implicits._
    // footer df=3 outranks nav df=... make footer strictly more frequent
    val docs = fixture :+ Doc("d4", Seq(Span("text", footer, "", 0)))
    val res = Boilerplate.strip(spark.createDataset(docs), minDf = 2, maxDict = 1)
    assert(res.truncated && res.dictSize == 1)
    val out = res.docs.collect().map(d => d.doc_id -> d.spans).toMap
    // footer (df=3) made the capped dictionary; nav (df=2) did not
    assert(out("d2") == Seq(Span("text", nav, "", 0)))
    assert(out("d4").isEmpty)
  }

  test("JVM filter hash equals the SQL dictionary hash (hash60 == hexPrefix64∘md5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = fixture.flatMap(_.spans).filter(_.kind == "text").map(_.text)
      .filter(_ != null)
    val sql = texts.toDF("t")
      .select(graft.functions.HexPrefix64.hexPrefix64(md5($"t")))
      .as[Long].collect().toSeq
    assert(sql == texts.map(graft.queries.MinHashDefs.hash60))
  }
}
