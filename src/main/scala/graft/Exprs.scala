package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library — the reference's scalar semantics re-expressed
  * as compositions of codegen'd Spark built-ins (no UDFs; SURVEY.md §2 K).
  *
  * Sessions run with `spark.sql.ansi.enabled=false` so `cast` of a malformed
  * string yields null (the reference's `try: float(...) except: fallback`
  * semantics — reference `data_transformation/sales_to_bq/main.py:120-132`).
  */
object Exprs {

  /** Deterministic 4-decimal rounding used on every float column that is
    * hash-compared against the DuckDB oracle. `floor(x*1e4+0.5)/1e4` is the
    * same pure-double formula on both engines, so it cannot diverge the way
    * engine-native `round()` (HALF_UP vs HALF_EVEN) can.
    */
  def r4(c: Column): Column = floor(c * lit(10000d) + lit(0.5d)) / lit(10000d)

  /** Morton (Z-order) interleave of two 16-bit values into one 32-bit
    * key — the multi-dimensional clustering sort key (Databricks Z-ORDER /
    * BigQuery multi-column clustering equivalent) for layouts that must
    * serve range predicates on EITHER of two columns from the same file
    * set. Pure codegen'd bit arithmetic (the classic 4-step bit-spread,
    * `(x | x<<8) & 0x00FF00FF` …), no UDF, no custom expression needed.
    * Inputs must already be scaled to [0, 65535] — see
    * [[graft.operators.Writers.writeZOrdered]] for the min/max scaling. */
  def zOrder2(x: Column, y: Column): Column = {
    def spread(c: Column): Column = {
      val s1 = shiftleft(c, 8).bitwiseOR(c).bitwiseAND(lit(0x00FF00FFL))
      val s2 = shiftleft(s1, 4).bitwiseOR(s1).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = shiftleft(s2, 2).bitwiseOR(s2).bitwiseAND(lit(0x33333333L))
      shiftleft(s3, 1).bitwiseOR(s3).bitwiseAND(lit(0x55555555L))
    }
    spread(x.cast("long")).bitwiseOR(shiftleft(spread(y.cast("long")), 1))
  }

  /** Order-independent exact float sum: each term is rounded onto a
    * 1/scale grid and summed as a LONG (integer addition commutes), then
    * scaled back. Plain `sum(double)` differs between engines in the last
    * ulp because partial-sum order differs — at large row counts some group
    * eventually lands exactly on an r4 boundary and breaks the hash compare
    * (observed at sf0.1). DuckDB mirror:
    * `CAST(SUM(CAST(floor(x*scale+0.5) AS BIGINT)) AS DOUBLE)/scale`. */
  def gsum(c: Column, scale: Double = 1e4): Column =
    org.apache.spark.sql.functions.sum(
      floor(c * lit(scale) + lit(0.5d)).cast("long")).cast("double") / lit(scale)

  /** [[gsum]] over an array column, as a per-row fold (no explode, no
    * shuffle): each element is mapped by `f`, rounded onto the grid, and
    * integer-summed. Matches the exploded+grouped [[gsum]] on every edge:
    * NULL terms are SKIPPED (SQL `sum` semantics — one malformed string
    * under the engine's lenient-cast contract must not null the whole
    * header sum, it just drops that item, like the reference's per-item
    * try/except), and NULL / EMPTY / all-null-terms arrays yield NULL
    * (no rows → no group → left-join null). Drop-in equivalence is
    * property-tested in ExprsSpec including nulls. Used to compute
    * header-grain sums BEFORE the single item-grain explode so fact
    * builds stay one-pass (a second aggregate branch would duplicate the
    * whole upstream parse subtree — Spark plans are trees, and only
    * identical exchange subtrees get reused). */
  def gsumArray(arr: Column, f: Column => Column, scale: Double = 1e4): Column =
    aggregate(
      // grid terms first, so the fold reads each element's term as one
      // lambda variable — `f` is evaluated once per element, not twice
      transform(arr, x => floor(f(x) * lit(scale) + lit(0.5d)).cast("long")),
      struct(lit(0L).as("s"), lit(0L).as("n")),
      (a, term) => struct(
        (a.getField("s") + coalesce(term, lit(0L))).as("s"),
        (a.getField("n") + when(term.isNotNull, lit(1L)).otherwise(lit(0L))).as("n")),
      a => when(a.getField("n") > 0, a.getField("s").cast("double") / lit(scale)))

  /** Portable 32-bit numeric hash: first 8 hex chars of md5, as a long in
    * [0, 2³²). ONE definition for every hashing operator (minhash shingles,
    * simhash word votes, vocab hashing, deterministic sampling draws) —
    * the formula carries a DuckDB-equivalence contract
    * (`CAST(('0x' || substr(md5(s),1,8)) AS BIGINT)`), so a single shared
    * definition keeps Spark and every oracle in lockstep; widening or
    * re-seeding it is a one-site edit on each side.
    */
  def md5num(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** F6 — dual-format pt-BR discount parse
    * (reference `sales_to_bq/main.py:120-132,142-154`):
    * `'x%'` → pct/100 × base; else `','→'.'` decimal taken as an absolute
    * amount; parse failure → 0.0; clamped at `max(0, ·)`.
    */
  def parseDesconto(c: Column, base: Column): Column = {
    val pct = regexp_replace(c, "%", "").cast("double") / lit(100d) * base
    val dec = regexp_replace(c, ",", ".").cast("double")
    greatest(lit(0d), coalesce(when(c.contains("%"), pct).otherwise(dec), lit(0d)))
  }

  /** D6 — `dd/MM/yyyy` → `yyyy-MM-dd`, returning the INPUT UNCHANGED on
    * parse failure (reference quirk, `gcs_to_bq/main.py:213-221`).
    */
  def brDate(c: Column): Column =
    coalesce(date_format(to_date(c, "dd/MM/yyyy"), "yyyy-MM-dd"), c)

  /** D13 — category split on `' >> '` into (principal, secundaria);
    * secundaria is `''` when absent (reference `sales_to_bq/main.py:177-184`).
    */
  def categoriaPrincipal(c: Column): Column = trim(substring_index(c, " >> ", 1))
  def categoriaSecundaria(c: Column): Column =
    when(c.contains(" >> "), trim(substring_index(c, " >> ", -1))).otherwise(lit(""))

  /** D10 — extract keys from the reference's blob-name convention
    * `{dados_id}-{type}[-{produto_id}]-{timestamp}-{uuid}.json`
    * (reference `backfill/gcs_to_pupsub.py:10,19-31`).
    */
  private val FilenameRe =
    "z316-tiny-api-(\\d+)-(pdv|pesquisa|produto)(?:-(\\d+))?-(\\d{8}T\\d{6})-([0-9a-f-]{36})\\.json$"
  def fileDadosId(c: Column): Column = regexp_extract(c, FilenameRe, 1)
  def fileDataType(c: Column): Column = regexp_extract(c, FilenameRe, 2)
  def fileProdutoId(c: Column): Column = regexp_extract(c, FilenameRe, 3)
  def fileTimestamp(c: Column): Column = regexp_extract(c, FilenameRe, 4)
  def fileUuid(c: Column): Column = regexp_extract(c, FilenameRe, 5)

  /** D12 — canonical checksum. The reference MD5s `json.dumps(data,
    * sort_keys=True)` (`api_to_gcs/main.py:234-236`); we get key-order
    * canonicalisation by feeding fields in caller-sorted name order through
    * a `'|'`-separated concat (codegen'd, oracle-expressible as
    * `md5(concat_ws('|', ...))` in DuckDB).
    */
  def canonicalChecksum(cols: Column*): Column = md5(concat_ws("|", cols: _*))

  /** Synthetic `T000000` timestamps mark backfilled data
    * (`backfill/api_to_gcs-backfill.py:138-140`); duplicate resolution
    * prefers live captures (`api_to_gcs-checker.py:145-150`).
    */
  def isSyntheticTs(c: Column): Column = c.endsWith("T000000")
}
