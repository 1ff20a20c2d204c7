package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the audit step of an incremental pipeline:
  * after a per-crawl ingest (q6) or a re-curation run, report exactly
  * what changed between two corpus versions. The reference's pipeline
  * overwrites its dataframe store between stages (`main.py` re-runs
  * write the same parquet paths); at 100 TB nobody diffs by re-reading
  * text — versions are compared by content digest.
  */
object Snapshots {

  /** Per-document diff of two corpus versions: one row per doc that is
    * NOT unchanged, with `status` ∈ {'removed', 'added', 'changed'}
    * (in v1 only / in v2 only / in both with different content
    * digests). Unchanged docs — the overwhelming majority of a real
    * incremental diff — are filtered out BEFORE the result
    * materializes.
    *
    * Scale shape: each side reduces map-side to (id, md5(text)) — the
    * full-outer join shuffles 48-byte rows, never document payloads —
    * then one co-partitioned full outer join on the id. No window, no
    * skew surface (ids are unique per side by contract). At 100 TB
    * both sides are parquet scans whose ReadSchema is already just
    * (id, text), and the text column dies at the first Project. */
  def diff(v1: DataFrame, v2: DataFrame, idCol: String,
           textCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("__id1"),
      md5(col(textCol)).as("__d1"))
    val b = v2.select(col(idCol).as("__id2"),
      md5(col(textCol)).as("__d2"))
    a.join(b, col("__id1") === col("__id2"), "full_outer")
      .select(
        coalesce(col("__id1"), col("__id2")).as(idCol),
        when(col("__id2").isNull, "removed")
          .when(col("__id1").isNull, "added")
          .when(col("__d1") =!= col("__d2"), "changed")
          .as("status"))
      .filter(col("status").isNotNull)
  }
}
