package graft.pipeline

import graft.queries.{MinHashDefs, Queries}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate DOCUMENT dedup at the production (north-rule)
  * surface: `Dataset[Doc]` in, surviving `Dataset[Doc]` out — the
  * battery's dedup machinery (MinHashDefs b=16 × r=4 signatures,
  * count-first bucket cuts, ≥32/64 agreement verification,
  * pointer-doubled connected components) consumable without SQL.
  *
  * Similarity looks at the TEXT spans only (joined by '\n'); media
  * spans ride along untouched in survivors. Exact duplicates are
  * caught by a content-hash edge set (covers docs too short for
  * shingles); near-duplicates by verified MinHash candidate pairs.
  * The lexicographically-smallest doc_id per duplicate group
  * survives — deterministic across runs and partitionings.
  *
  * Scale shape: the edges are [[duplicateEdges]], the same function
  * q_dedup_groups resolves (every aggregation state bounded); label
  * propagation is O(log diameter) rounds with eager localCheckpoints.
  * Caches are scoped to this call and released before returning — the
  * returned Dataset depends only on checkpointed labels and the input. */
object Dedup {

  def dropNearDuplicates(docs: Dataset[Doc]): Dataset[Doc] = {
    val s = docs.sparkSession
    import s.implicits._

    val txt = docs
      .map(d => (d.doc_id,
        d.spans.filter(_.kind == "text").map(_.text).mkString("\n")))
      .toDF("doc_id", "text")
    val mins = Queries.minhashMinsOf(txt).persist(StorageLevel.MEMORY_AND_DISK)
    val edges = duplicateEdges(txt, mins).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = txt.select($"doc_id".as("id"))
    // connectedComponents materializes labels eagerly (localCheckpoint +
    // per-round counts), so the caches can be dropped before returning
    val (lab, _) = Queries.connectedComponents(ids, edges)
    val survivors = lab.where($"lab" === $"id").select($"id".as("doc_id"))
    mins.unpersist(); edges.unpersist()

    docs.join(survivors, "doc_id")
      .select($"doc_id", $"spans").as[Doc]
  }

  /** Verified duplicate edges ("a" < "b") over `rows` (doc_id, text) —
    * the one edge builder behind both [[dropNearDuplicates]] and
    * q_dedup_groups. `mins` is `Queries.minhashMinsOf` of the same rows;
    * it is read twice (band projection + verification), so the caller
    * persists it and owns its lifecycle. The result may repeat an edge
    * found by both kinds; callers `distinct` after their own unions.
    *
    *  - Exact duplicates: a star edge from each content hash's min
    *    doc_id to every other member, via groupBy(md5).agg(min, count)
    *    + join-back. NOT min().over(Window.partitionBy(md5)): a window
    *    co-locates and sorts EVERY row of a hash group in one task, so
    *    a virally duplicated page becomes one task's sort buffer; the
    *    groupBy's per-group state is one min, and the n >= 2 cut keeps
    *    singleton groups (most of the corpus) out of the join.
    *  - Near duplicates: b=16 × r=4 band-bucket collisions, buckets cut
    *    to 2..20 docs BEFORE any doc list materializes (the hot-bucket
    *    bound), pairs confirmed by signature agreement >= 32/64. Raw
    *    band collisions are candidates, not evidence: unverified
    *    buckets chain transitively into giant components. */
  private[graft] def duplicateEdges(rows: DataFrame, mins: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val hashed = rows.select($"doc_id", md5($"text").as("h"))
    val exKeepers = hashed.groupBy($"h")
      .agg(min($"doc_id").as("m"), count(lit(1)).as("n"))
      .where($"n" >= 2)
      .select($"h", $"m")
    val exEdges = hashed.join(exKeepers, "h")
      .where($"doc_id" =!= $"m")
      .select($"m".as("a"), $"doc_id".as("b"))

    // the bucket count and the join-back ride one (band, sig) partitioning
    val sigs = Queries.minhashBandSigs(mins).repartition($"band", $"sig")
    val keep = sigs
      .groupBy($"band", $"sig").agg(count(lit(1)).as("n"))
      .where($"n".between(2, 20))
      .select($"band", $"sig")
    val cands = sigs
      .join(keep, Seq("band", "sig")) // same partitioning: no exchange
      .groupBy($"band", $"sig")
      .agg(collect_set($"doc_id").as("docs")) // bounded <= 20
      .select(explode(expr(
        """flatten(transform(array_sort(docs), (a, i) ->
             transform(slice(array_sort(docs), i + 2, size(docs)), b ->
               struct(a AS ida, b AS idb))))""")).as("p"))
      .select($"p.ida".as("ida"), $"p.idb".as("idb"))
      .distinct()
    val mhEdges = cands
      .join(mins.as("ma"), $"ida" === $"ma.doc_id")
      .join(mins.as("mb"), $"idb" === $"mb.doc_id")
      .where(expr(MinHashDefs.agreementSql("ma", "mb"))
        >= MinHashDefs.VerifyAgreement)
      .select($"ida".as("a"), $"idb".as("b"))

    exEdges.union(mhEdges)
  }
}
