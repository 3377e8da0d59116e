package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** CCNet-style cross-document boilerplate strip over the interleaved
  * spans table — the north rule's "HTML boilerplate strip" re-expressed
  * at span granularity (CCNet removes paragraphs duplicated across
  * pages; here the unit is the span): a text span whose exact content
  * recurs in >= minDf distinct documents (nav bars, footers, cookie
  * banners — the content a DOM heuristic would cut) is dropped; media
  * spans, and text spans with a null text, pass through untouched;
  * surviving spans keep their original (kind, text, media_ref,
  * offset), so the span-sequence invariant holds on the retained
  * subsequence. A doc whose spans are all
  * boilerplate stays in the output with an empty span array (dropping
  * rows is the caller's policy, not this operator's).
  *
  * Scale shape (10^12 docs): the ONLY shuffle is the dictionary
  * aggregation — explode text spans to 60-bit content hashes (8-byte
  * shuffle keys, map-side partial count_distinct), keep keys with
  * df >= minDf. That qualifying set is the heavy-hitter tail of the
  * corpus — orders of magnitude smaller than the span count — and is
  * BOUNDED by maxDict (top-df-first TakeOrderedAndProject; never an
  * unbounded collect; collecting maxDict+1 rows detects overflow, and
  * truncation is returned to the caller, not silently swallowed; the
  * df-then-hash ordering keeps a truncated dictionary deterministic).
  * The strip itself is a map-side typed filter against the broadcast
  * dictionary — the data path has NO shuffle, so the operator composes
  * with any upstream partitioning (e.g. the correction job's salted
  * repartition) without a re-exchange. Hashing is
  * hexPrefix64(md5(text)) on the SQL side and its JVM twin
  * MinHashDefs.hash60 on the filter side — equality is spec-pinned.
  */
object Boilerplate {

  /** Cleaned docs plus dictionary stats (size after the cap, and
    * whether maxDict truncated the qualifying set). */
  final case class StripResult(docs: Dataset[Doc], dictSize: Int, truncated: Boolean)

  def strip(docs: Dataset[Doc], minDf: Int = 2, maxDict: Int = 1 << 20): StripResult = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qualifying = docs
      .select($"doc_id", explode($"spans").as("s"))
      .where($"s.kind" === "text" && $"s.text".isNotNull)
      .select(graft.functions.HexPrefix64.hexPrefix64(md5($"s.text")).as("h"),
        $"doc_id")
      .groupBy($"h").agg(count_distinct($"doc_id").as("nd"))
      .where($"nd" >= minDf)
      .orderBy(desc("nd"), asc("h"))
      .limit(maxDict + 1)
      .select($"h").as[Long].collect()
    val truncated = qualifying.length > maxDict
    val dict = qualifying.take(maxDict).toSet
    val bc = spark.sparkContext.broadcast(dict)
    val out = docs.map { d =>
      Doc(d.doc_id, d.spans.filter { sp =>
        sp.kind != "text" || sp.text == null ||
          !bc.value.contains(graft.queries.MinHashDefs.hash60(sp.text))
      })
    }
    StripResult(out, dict.size, truncated)
  }
}
