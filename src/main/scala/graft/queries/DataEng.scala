package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Chunking, Layout}
import QueryPack.t

/** Data-engineering operator gates: CDC changelog application, SCD2 history,
  * document chunking, and Z-order layout. The events table doubles as a
  * changelog (key = user_id, sequence = (ts, event_id), delete op derived
  * from event_type) and the customer table as the base snapshot.
  */
object DataEng {

  /** Shared by cdc_scd2 and cdc_scd2_inc: both gates must equal the same
    * full-rebuild history (that identity IS cdc_scd2_inc's point), so the
    * oracle lives once.
    */
  // DuckDB twin of TextFunctions.tokens (same fragment Pipeline uses)
  private val toksSqlDE =
    """string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"""

  private val Scd2RebuildSql = """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          epoch_ms(LEAD(ts) OVER w) AS valid_to_ms,
          (LEAD(ts) OVER w IS NULL) AS is_current,
          event_type, value
        FROM events WHERE user_id < 25
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ORDER BY user_id, ts_ms"""

  def specs: Seq[QuerySpec] = Seq(

    // ---- Changelog apply (MERGE-shaped upsert+delete): compact the events
    // log to its latest change per user (max_by hash agg -> map-side partial
    // combine), then touch the base snapshot with ONE left-anti join on the
    // compacted key set (changelog-sized -> AQE broadcasts it; the base
    // never shuffles). Keys whose latest event is an 'error' are deletes;
    // untouched base users (150-299) survive byte-identical. ----
    QuerySpec("cdc_apply",
      (s, dir) => {
        val base = t(s, dir, "customer").where(col("c_custkey") < 300)
          .select(col("c_custkey").as("user_id"), lit("base").as("event_type"),
            col("c_acctbal").as("value"))
        val changes = t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
          .withColumn("op", when(col("event_type") === "error", "D").otherwise("U"))
        Cdc.applyChangelog(base, changes, Seq("user_id"), Seq("ts", "event_id"), "op")
          .orderBy(col("user_id"))
      },
      Some("""WITH ranked AS (
          SELECT user_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ), latest AS (
          SELECT user_id, event_type, value FROM ranked WHERE rn = 1
        ), base AS (
          SELECT c_custkey AS user_id, 'base' AS event_type, c_acctbal AS value
          FROM customer WHERE c_custkey < 300
        )
        SELECT user_id, event_type, value FROM base
        WHERE user_id NOT IN (SELECT user_id FROM latest)
        UNION ALL
        SELECT user_id, event_type, value FROM latest WHERE event_type <> 'error'
        ORDER BY user_id""")),

    // ---- SCD type-2 history: each change carries its validity interval
    // [its ts, the key's next ts) and an is_current flag — one keyed
    // shuffle (window over user_id ordered by ts), the minimum for a
    // per-key order statistic. Milliseconds out, so the dtype story is
    // engine-neutral. ----
    QuerySpec("cdc_scd2",
      (s, dir) => {
        val e = t(s, dir, "events").where(col("user_id") < 25)
        Cdc.scd2(e, Seq("user_id"), "ts")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("valid_from")).as("ts_ms"),
            unix_millis(col("valid_to")).as("valid_to_ms"),
            col("is_current"), col("event_type"), col("value"))
          .orderBy(col("user_id"), col("ts_ms"))
      },
      Some(Scd2RebuildSql)),

    // ---- Document chunking (size=120, overlap=24, step=96): map-side
    // sequence()+posexplode+substring, no shuffle, no UDF. The gate hashes
    // every chunk's text, so boundary math (final short chunk emitted iff it
    // adds uncovered characters) is pinned byte-exact. ----
    QuerySpec("text_chunk",
      (s, dir) => {
        Chunking.chunk(t(s, dir, "documents"), "text", size = 120, overlap = 24)
          .select(col("doc_id"), col("chunk_ix"),
            length(col("chunk")).as("n_chunk_chars"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_ix"))
      },
      Some("""SELECT doc_id, CAST(s // 96 AS INT) AS chunk_ix,
          CAST(length(substring(text, CAST(s AS INT) + 1, 120)) AS INT) AS n_chunk_chars,
          md5(substring(text, CAST(s AS INT) + 1, 120)) AS chunk_md5
        FROM (SELECT doc_id, text, unnest(range(0, greatest(length(text) - 24, 1), 96)) AS s
              FROM documents WHERE text IS NOT NULL AND length(text) > 0)
        ORDER BY doc_id, chunk_ix""")),

    // ---- Incremental SCD2: split the changelog at a fixed instant, build
    // history from the first half, extend it with the second via scd2Apply
    // (batch-sized shuffles only; history payload never moves) — and the
    // oracle is the FULL REBUILD over the union, so the gate pins the
    // incremental path equal to the from-scratch table, hash-exact. ----
    QuerySpec("cdc_scd2_inc",
      (s, dir) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val e = t(s, dir, "events").where(col("user_id") < 25)
        val hist = Cdc.scd2(e.where(col("ts") < cut), Seq("user_id"), "ts")
        Cdc.scd2Apply(hist, e.where(col("ts") >= cut), Seq("user_id"), "ts")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("valid_from")).as("ts_ms"),
            unix_millis(col("valid_to")).as("valid_to_ms"),
            col("is_current"), col("event_type"), col("value"))
          .orderBy(col("user_id"), col("ts_ms"))
      },
      Some(Scd2RebuildSql)),

    // ---- Token-budget mixture sampling: shares src0=0.4/src1=0.3/
    // src2=0.2/src3=0.1 of a 5000-token budget (share*budget pre-multiplied
    // so both engines evaluate one division — rate doubles stay
    // engine-identical), md5-hash01 keep, other sources drop. The oracle
    // recomputes totals, rates, and the keep decision per doc; outputs are
    // the per-source kept doc/token counts. ----
    QuerySpec("sample_mixture",
      (s, dir) => {
        import graft.functions.{TextFunctions => T}
        val d = t(s, dir, "documents")
          .withColumn("n_tok", T.tokenCount(col("text")).cast("long"))
        graft.operators.Sampling.tokenMixture(d, "doc_id", "n_tok", "source",
            Map("src0" -> 2000.0, "src1" -> 1500.0, "src2" -> 1000.0, "src3" -> 500.0),
            seed = 23L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, CAST(len($toksSqlDE) AS BIGINT) AS n_tok FROM documents
        ), agg AS (
          SELECT source, SUM(n_tok) AS tot FROM tk GROUP BY source
        ), rated AS (
          SELECT tk.doc_id, tk.source, tk.n_tok,
            LEAST(1.0, (CASE tk.source
              WHEN 'src0' THEN 2000.0 WHEN 'src1' THEN 1500.0
              WHEN 'src2' THEN 1000.0 WHEN 'src3' THEN 500.0 END) / agg.tot) AS rate
          FROM tk JOIN agg USING (source)
          WHERE tk.source IN ('src0', 'src1', 'src2', 'src3')
        )
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
        FROM rated
        WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':23'), 1, 15))::BIGINT % 10000)
          / 10000.0 < rate
        GROUP BY source ORDER BY source""")),

    // ---- Token-budget mixture WITH UPSAMPLING (the Pile/Dolma multi-epoch
    // shape): src0's budget exceeds its tokens (rate > 1 -> full copies +
    // a fractional hash01 copy), src2/src3 downsample, unlisted sources
    // drop. The oracle computes floor(rate) full copies + the fractional
    // keep per doc WITHOUT materializing copies — row and token totals
    // only match if the epoch expansion is exactly rate-shaped. ----
    QuerySpec("sample_mixture_upsample",
      (s, dir) => {
        import graft.functions.{TextFunctions => T}
        val d = t(s, dir, "documents")
          .withColumn("n_tok", T.tokenCount(col("text")).cast("long"))
        graft.operators.Sampling.tokenMixtureUpsample(d, "doc_id", "n_tok", "source",
            Map("src0" -> 30000.0, "src1" -> 9000.0, "src2" -> 1000.0, "src3" -> 500.0),
            seed = 23L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"), sum(col("n_tok")).as("tokens_kept"),
            max(col("epoch")).as("max_epoch"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, CAST(len($toksSqlDE) AS BIGINT) AS n_tok FROM documents
        ), agg AS (
          SELECT source, SUM(n_tok) AS tot FROM tk GROUP BY source
        ), rated AS (
          SELECT tk.doc_id, tk.source, tk.n_tok,
            (CASE tk.source
              WHEN 'src0' THEN 30000.0 WHEN 'src1' THEN 9000.0
              WHEN 'src2' THEN 1000.0 WHEN 'src3' THEN 500.0 END) / agg.tot AS rate,
            (('0x' || substr(md5(tk.doc_id::VARCHAR || ':23'), 1, 15))::BIGINT % 10000)
              / 10000.0 AS h01
          FROM tk JOIN agg USING (source)
          WHERE tk.source IN ('src0', 'src1', 'src2', 'src3')
        ), copies AS (
          SELECT source, n_tok,
            CAST(FLOOR(rate) AS BIGINT)
              + (CASE WHEN h01 < rate - FLOOR(rate) THEN 1 ELSE 0 END) AS n_copies,
            CASE WHEN h01 < rate - FLOOR(rate)
              THEN CAST(CEIL(rate) AS INT) - 1
              ELSE CAST(FLOOR(rate) AS INT) - 1 END AS max_epoch
          FROM rated
        )
        SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_rows,
          CAST(SUM(n_copies * n_tok) AS BIGINT) AS tokens_kept,
          MAX(max_epoch) AS max_epoch
        FROM copies WHERE n_copies > 0
        GROUP BY source ORDER BY source""")),

    // ---- Temperature-based source mixing (T5/mC4 alpha-sampling): target
    // share q_i = n_i^alpha / sum n_j^alpha at alpha=0.5, keep rate
    // min(1, q_i * 3000 / n_i), md5-hash01 keep. The oracle recomputes
    // totals, tempered shares (POW + window normalizer), rates, and the
    // per-doc keep decision; outputs are per-source kept doc/token counts.
    // ----
    QuerySpec("sample_temperature",
      (s, dir) => {
        import graft.functions.{TextFunctions => T}
        val d = t(s, dir, "documents")
          .withColumn("n_tok", T.tokenCount(col("text")).cast("long"))
        graft.operators.Sampling.temperatureMixture(d, "doc_id", "n_tok", "source",
            alpha = 0.5, budgetTokens = 3000.0, seed = 23L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, CAST(len($toksSqlDE) AS BIGINT) AS n_tok FROM documents
        ), agg AS (
          SELECT source, CAST(SUM(n_tok) AS DOUBLE) AS tot FROM tk GROUP BY source
        ), rated AS (
          SELECT source,
            LEAST(1.0, POW(tot, 0.5) / SUM(POW(tot, 0.5)) OVER () * 3000.0 / tot) AS rate
          FROM agg WHERE tot > 0
        )
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
        FROM tk JOIN rated USING (source)
        WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':23'), 1, 15))::BIGINT % 10000)
          / 10000.0 < rate
        GROUP BY source ORDER BY source""")),

    // ---- Approximate percentile under the error-bound contract (the
    // q_approx_distinct pattern): each engine runs ITS OWN quantile sketch
    // (Spark: Greenwald-Khanna at accuracy 10000; DuckDB: t-digest) and
    // asserts the estimate lands inside the exact [p-0.01, p+0.01] quantile
    // band; both also emit the exact interpolated percentiles, which match
    // raw (same index = p*(n-1) linear interpolation). Mergeable quantile
    // sketches are the distributed path: partial per partition, merge at
    // the final agg — no sort of the corpus. ----
    QuerySpec("q_approx_percentile",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        // two aggregates, not one per quantile: each buffers the group's
        // values once and answers all of its quantiles from that buffer
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.9, 0.49, 0.51, 0.89, 0.91))").as("p"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").as("a"))
        .select(col("l_returnflag"), col("p")(0).as("p50"), col("p")(1).as("p90"),
          (col("a")(0) >= col("p")(2) && col("a")(0) <= col("p")(3)).as("within_bound_p50"),
          (col("a")(1) >= col("p")(4) && col("a")(1) <= col("p")(5)).as("within_bound_p90"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.5) AS p50,
          quantile_cont(l_extendedprice, 0.9) AS p90,
          approx_quantile(l_extendedprice, 0.5)
            BETWEEN quantile_cont(l_extendedprice, 0.49)
                AND quantile_cont(l_extendedprice, 0.51) AS within_bound_p50,
          approx_quantile(l_extendedprice, 0.9)
            BETWEEN quantile_cont(l_extendedprice, 0.89)
                AND quantile_cont(l_extendedprice, 0.91) AS within_bound_p90
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Hilbert curve values: the xy2d rotate/reflect recurrence runs as
    // chained projections in Spark and as a RECURSIVE CTE in DuckDB (one
    // iteration per bit level, pure integer arithmetic on both sides), so
    // the better-locality curve is hash-exact gated like the Morton one.
    // Curve properties (bijection, unit-step adjacency) in DataEngSuite. ----
    QuerySpec("layout_hilbert",
      (s, dir) => {
        val pre = t(s, dir, "events")
          .select(col("event_id"), col("user_id").as("x"),
            pmod(col("event_id"), lit(251)).as("y"))
        Layout.hilbertValue2(pre, "x", "y", bits = 8, outCol = "hval")
          .select(col("event_id"), col("hval"))
          .orderBy(col("event_id"))
      },
      Some("""WITH RECURSIVE h AS (
          SELECT event_id,
                 CAST(user_id AS BIGINT) AS x,
                 CAST(event_id % 251 AS BIGINT) AS y,
                 CAST(0 AS BIGINT) AS d, 7 AS i
          FROM events
          UNION ALL
          SELECT event_id,
            CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y ELSE y END) ELSE x END,
            CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x ELSE x END) ELSE y END,
            d + ((1::BIGINT << i) * (1::BIGINT << i)) * CAST(xor(3 * rx, ry) AS BIGINT),
            i - 1
          FROM (SELECT event_id, x, y, d, i,
                  ((x >> i) & 1) AS rx, ((y >> i) & 1) AS ry
                FROM h WHERE i >= 0)
        )
        SELECT event_id, d AS hval FROM h WHERE i = -1 ORDER BY event_id""")),

    // ---- Z-order (Morton) curve values: interleave the low 8 bits of
    // user_id (0..149) and event_id mod 251 — 16 codegen'd shift/mask/add
    // terms, no UDF. DataEngSuite proves the layout consequence (per-file
    // bounding boxes shrink in BOTH dimensions after zorder2); the gate
    // pins the curve arithmetic itself byte-exact. ----
    QuerySpec("layout_zorder",
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_id"),
            Layout.zValue2(col("user_id"), pmod(col("event_id"), lit(251)), bits = 8)
              .as("zval"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
          CAST(list_sum(list_transform(range(0, 8), i ->
            (((user_id >> i) & 1) << (2*i)) + ((((event_id % 251) >> i) & 1) << (2*i + 1))
          )) AS BIGINT) AS zval
        FROM events ORDER BY event_id"""))
  )
}
