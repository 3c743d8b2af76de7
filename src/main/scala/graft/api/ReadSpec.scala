package graft.api

/** Declarative read specification — the Spark-native analog of the
  * reference's `xds_from_table(columns, index_cols, group_cols,
  * taql_where, chunks)` surface (ref: daskms/dask_ms.py:128-294).
  *
  * Semantics:
  *  - `columns`    — projection (ref: daskms/reads.py:344). None = all.
  *  - `groupCols`  — one output partition (MSDataset) per distinct tuple
  *                   (ref: daskms/reads.py:368-432).
  *  - `indexCols`  — row order within each partition
  *                   (ref: daskms/ordering.py:64-78).
  *  - `where`      — TAQL-subset predicate, rewritten to Spark SQL
  *                   (ref: daskms/ordering.py:68-71 `taql_where`).
  *  - `numPartitions` — Spark partition count for the row dimension; the
  *                   analog of the reference's row chunks
  *                   (ref: daskms/reads.py:33 default 10000-row chunks).
  *  - `maxGroups`  — fan-out guard for the dataset-list read path: each
  *                   distinct group tuple becomes its own dataset (with
  *                   `indexCols`, a filter of the read's one pinned sort),
  *                   sane only for low-cardinality keys (FIELD_ID/
  *                   DATA_DESC_ID). Beyond this, `MSTable.read` refuses
  *                   before it sorts or pins and points at `MSTable.readDF`.
  */
final case class ReadSpec(
    columns: Option[Seq[String]] = None,
    groupCols: Seq[String] = Nil,
    indexCols: Seq[String] = Nil,
    where: Option[String] = None,
    numPartitions: Option[Int] = None,
    maxGroups: Int = 1000)

object ReadSpec {
  /** Default Measurement-Set grouping (ref: daskms/dask_ms.py:13). */
  val msDefaults: ReadSpec =
    ReadSpec(groupCols = Seq("FIELD_ID", "DATA_DESC_ID"))
}
