package graft.ops

/** Parked file-format fixtures derived from the parquet tables — the
  * CSV/JSONL source seams (`source_csv_roundtrip`,
  * `source_jsonl_roundtrip`, `token_count_jsonl`, and the TagPack CSV's
  * sibling in GraphMaterialize). Built once per (source-table stamp,
  * tag) under `target/intermediate` by [[Tiers.park]] like every tier,
  * wiped by [[Tiers.wipe]] — so the queries that ingest them stay
  * READ-ONLY (a query entry with a write side effect times fixture
  * generation and re-writes it on every invocation). */
object FileFixtures {

  /** Path of the parked fixture derived from `$dir/$srcTable.parquet`,
    * building it via `build(root)` on first access. */
  def parked(dir: String, srcTable: String, tag: String)(
      build: String => Unit): String =
    Tiers.park(s"target/intermediate/src_${tag}_" +
      Tiers.sourceStamp(dir, srcTable))(build)
}
