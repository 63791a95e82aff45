package graft.chain

/** DuckDB SQL fragments exactly mirroring [[Chain]]'s Spark derivations.
  * The driver runs these against the same parquet (registered under bare
  * table names) and hash-compares; any drift between a fragment here and
  * its Chain counterpart is a correctness failure.
  *
  * Numeric policy for cross-engine bit-exactness:
  *  - every integer output is CAST(... AS BIGINT);
  *  - doubles only ever come from exact-integer numerators (x/16.0, a/b)
  *    or exact decimal sums cast to double — never from reordered double
  *    accumulation.
  */
object ChainSql {
  /** tx CTE — mirrors Chain.transactions. */
  val tx: String =
    """tx AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS tx_id,
      |         sha256(CAST(o_orderkey AS VARCHAR)) AS tx_hash,
      |         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS block_id,
      |         CAST(date_diff('second', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT) AS ts,
      |         CAST(floor(o_orderkey / 25000) AS BIGINT) AS tx_id_group
      |  FROM orders)""".stripMargin

  /** io CTE — mirrors Chain.io (sans the address array, added where needed). */
  val io: String =
    """io AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS tx_id,
      |         CAST(l_linenumber AS BIGINT) AS idx,
      |         (l_linenumber % 2 = 1) AS is_input,
      |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS value,
      |         CAST(l_partkey % 10 + 1 AS BIGINT) AS address_type,
      |         'a' || CAST(l_suppkey AS VARCHAR) AS base_addr,
      |         'a' || CAST(l_partkey AS VARCHAR) AS alt_addr
      |  FROM lineitem)""".stripMargin

  /** The `address` column of an [[io]] row, one row per address
    * (mirrors Chain.io's `addresses` dispatch + an explode): multisig
    * fans out to both constituents, null-typed rows drop. */
  val ioAddress: String =
    """unnest(CASE WHEN address_type = 6 THEN [base_addr, alt_addr]
      |            WHEN address_type IN (1, 7, 10) THEN NULL
      |            ELSE [base_addr] END) AS address""".stripMargin

  /** ioa CTE — io with the address array exploded ([[ioAddress]]).
    * Composes after [[io]]. */
  val ioAddr: String =
    s"""ioa AS (
       |  SELECT tx_id, idx, is_input, value, address_type,
       |         $ioAddress
       |  FROM io)""".stripMargin

  /** blk CTE — mirrors Chain.blocks. */
  val blk: String =
    """blk AS (
      |  SELECT block_id,
      |         CAST(count(*) AS BIGINT) AS no_transactions,
      |         min(ts) AS ts,
      |         CAST(floor(block_id / 100) AS BIGINT) AS block_id_group,
      |         sha256('b' || CAST(block_id AS VARCHAR)) AS block_hash
      |  FROM tx GROUP BY block_id)""".stripMargin

  /** rates CTE — mirrors Chain.rates. */
  val rates: String =
    """rates AS (
      |  SELECT rate_date, d,
      |         CAST(7 + instr('0123456789abcdef', substr(md5(d), 1, 1)) AS BIGINT) AS usdx16,
      |         CAST(7 + instr('0123456789abcdef', substr(md5(d), 2, 1)) AS BIGINT) AS eurx16,
      |         CAST(7 + instr('0123456789abcdef', substr(md5(d), 1, 1)) AS BIGINT) / 16.0 AS usd,
      |         CAST(7 + instr('0123456789abcdef', substr(md5(d), 2, 1)) AS BIGINT) / 16.0 AS eur,
      |         CAST(date_diff('day', DATE '1992-01-01', rate_date) AS BIGINT) AS block_id
      |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS rate_date,
      |               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d
      |        FROM orders))""".stripMargin

  /** iostats CTE — mirrors Chain.txIoStats. */
  val ioStats: String =
    """iostats AS (
      |  SELECT tx_id,
      |         CAST(sum(CASE WHEN is_input THEN 1 ELSE 0 END) AS BIGINT) AS no_inputs,
      |         CAST(sum(CASE WHEN NOT is_input THEN 1 ELSE 0 END) AS BIGINT) AS no_outputs,
      |         CAST(coalesce(sum(CASE WHEN is_input THEN value END), 0) AS BIGINT) AS total_input,
      |         CAST(coalesce(sum(CASE WHEN NOT is_input THEN value END), 0) AS BIGINT) AS total_output
      |  FROM io GROUP BY tx_id)""".stripMargin

  def withCtes(ctes: String*)(body: String): String =
    ctes.mkString("WITH ", ",\n", "\n") + body

  /** Like [[withCtes]] but RECURSIVE, for oracles that need a fixpoint
    * (connected components): DuckDB lets non-recursive and recursive CTEs
    * mix under one WITH RECURSIVE header. */
  def withRecursiveCtes(ctes: String*)(body: String): String =
    ctes.mkString("WITH RECURSIVE ", ",\n", "\n") + body

  /** Recursive min-label walk over an undirected edge CTE: every
    * component label reaches every member, so `min(comp) GROUP BY node`
    * is each node's component minimum — the oracle mirror of
    * [[graft.operators.ConnectedComponents]]. `nodesCte` must expose
    * `node`, `edgesCte` endpoints `a`/`b` (one direction; the walk
    * symmetrizes). Termination: UNION dedups against everything already
    * reached, so cycles add no new rows.
    *
    * esym is DISTINCT over UNION ALL, not `A UNION B`: under a WITH
    * RECURSIVE header DuckDB gives ANY union-shaped CTE body anchor/step
    * semantics — even without a self-reference — and stops
    * deduplicating (harmless for the walk, but a COUNT over such a CTE
    * silently inflates). */
  def ccWalkCte(nodesCte: String, edgesCte: String): String =
    s"""esym AS (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM $edgesCte
       |  UNION ALL SELECT b, a FROM $edgesCte)),
       |walk(node, comp) AS (
       |  SELECT node, node FROM $nodesCte
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN esym e ON e.a = w.node)""".stripMargin
}
