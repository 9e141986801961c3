package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Dedup

/** Helpers shared by the driver query families. */
package object driver {

  /** Table reader. For the CPU-dense-per-row corpus tables (documents'
    * text, embeddings' vectors) the scan-parallelism guard applies: a
    * single-row-group parquet file cannot split (the driver's testdata is
    * written exactly that way), so without it every text/vector kernel
    * would run its source on ONE task regardless of cores — measured
    * 1.5–2× on the text queries. For the cheap-per-row relational tables
    * the guard is deliberately NOT applied: a map-only projection over
    * lineitem finishes faster on 3 scan tasks than it can pay for a full
    * 600k-row exchange (measured 4× the other way), and every
    * aggregation/join over them re-parallelizes at its own shuffle anyway.
    * At real corpus scale both paths are no-ops/irrelevant: thousands of
    * splits.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    if (name == "documents" || name == "embeddings") Dedup.ensureParallelism(raw)
    else raw
  }

  /** A scratch directory under `java.io.tmpdir` for one (sf dir, JVM):
    * `prefix`, the sf dir's hash in hex, `_`, the pid. Two JVMs, or two sf
    * dirs in one JVM, never write into each other's fixture.
    */
  private[graft] def scratchDir(prefix: String, dir: String): File =
    new File(sys.props("java.io.tmpdir"),
      prefix + java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL) +
        "_" + ProcessHandle.current().pid())

  /** Delete a streaming fixture's per-run `sink_*`/`ckpt_*` dirs; the
    * reusable input shards beside them stay.
    */
  private[driver] def wipeRunDirs(root: File): Unit = {
    val entries = root.listFiles
    if (entries != null)
      entries.filter(f => f.getName.startsWith("sink_") ||
        f.getName.startsWith("ckpt_")).foreach(FileUtils.deleteQuietly)
  }

  /** The explicit whitespace class (Java `\s`) — plain triple-quote so the
    * backslashes stay literal for DuckDB's regex engine.
    */
  private[driver] val wsClassSql: String = """[ \t\n\x0B\f\r]+"""

  /** The shipped English stopword list as a DuckDB list literal. */
  private[driver] val EnStopListSql: String =
    "['the','a','an','and','or','of','to','in','is','it'," +
      "'that','for','on','with','as','at','by','be','this','are']"

  /** Full Gopher-signal + keep replay (q65's machinery) over an arbitrary
    * `(doc_id, text)` base, parameterized by stopword list and the
    * min-hits floor (0 = the disabled gate for stoplist-less langs).
    * Emitted as a self-contained `(WITH … SELECT doc_id, hits, keep)`
    * subquery so several instantiations join in one oracle without CTE
    * name collisions. `baseSql` must be a self-contained SELECT producing
    * `doc_id, text` (no references to the outer query's CTEs).
    */
  private[driver] def gopherKeepReplaySql(
      baseSql: String, stopListSql: String, minHits: Int): String =
    s"""(WITH base AS (
       |$baseSql),
       |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk,
       |                list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS tkl
       |         FROM base),
       |lines AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS seg FROM base),
       |paras AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\n{2,}'), x -> x <> '') AS seg FROM base),
       |lstat AS (
       |  SELECT doc_id, count(*) AS cnt, sum(length(l)) AS chars,
       |    count(*) FILTER (WHERE c >= 2) AS dupcnt,
       |    coalesce(sum(length(l)) FILTER (WHERE c >= 2), 0) AS dupchars
       |  FROM (SELECT doc_id, l, count(*) OVER (PARTITION BY doc_id, l) AS c
       |        FROM (SELECT doc_id, unnest(seg) AS l FROM lines))
       |  GROUP BY doc_id),
       |pstat AS (
       |  SELECT doc_id, count(*) AS cnt, sum(length(l)) AS chars,
       |    count(*) FILTER (WHERE c >= 2) AS dupcnt,
       |    coalesce(sum(length(l)) FILTER (WHERE c >= 2), 0) AS dupchars
       |  FROM (SELECT doc_id, l, count(*) OVER (PARTITION BY doc_id, l) AS c
       |        FROM (SELECT doc_id, unnest(seg) AS l FROM paras))
       |  GROUP BY doc_id),
       |gramrows AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS gi,
       |    unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
       |                          i -> array_to_string(tk[i : i + 4], ' '))) AS g
       |  FROM toks),
       |cov AS (
       |  SELECT DISTINCT doc_id, unnest(generate_series(gi, gi + 4)) AS pos
       |  FROM (SELECT doc_id, gi, count(*) OVER (PARTITION BY doc_id, g) AS c FROM gramrows)
       |  WHERE c >= 2),
       |covstat AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id),
       |sig AS (
       |  SELECT b.doc_id,
       |    len(t.tk) AS token_count,
       |    CASE WHEN len(t.tk) = 0 THEN 0.0
       |         ELSE list_sum(list_transform(t.tk, x -> length(x)))::DOUBLE / len(t.tk) END AS mean_word_len,
       |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0 ELSE ls.dupcnt::DOUBLE / ls.cnt END AS dup_line_frac,
       |    CASE WHEN coalesce(ls.chars, 0) = 0 THEN 0.0 ELSE ls.dupchars::DOUBLE / ls.chars END AS dup_line_char_frac,
       |    CASE WHEN coalesce(ps2.cnt, 0) = 0 THEN 0.0 ELSE ps2.dupcnt::DOUBLE / ps2.cnt END AS dup_para_frac,
       |    CASE WHEN coalesce(ps2.chars, 0) = 0 THEN 0.0 ELSE ps2.dupchars::DOUBLE / ps2.chars END AS dup_para_char_frac,
       |    CASE WHEN len(t.tk) < 5 THEN 0.0 ELSE coalesce(cs.covered, 0)::DOUBLE / len(t.tk) END AS dup_ngram_cov,
       |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0
       |         ELSE len(list_filter(ln.seg, x -> regexp_matches(x, '^\\s*[-*•‣▪]')))::DOUBLE / ls.cnt END AS bullet_frac,
       |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0
       |         ELSE len(list_filter(ln.seg, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$')))::DOUBLE / ls.cnt END AS ellipsis_frac,
       |    CASE WHEN len(t.tk) = 0 THEN 0.0
       |         ELSE len(list_filter(t.tk, x -> regexp_matches(x, '\\p{L}')))::DOUBLE / len(t.tk) END AS alpha_frac,
       |    len(list_intersect(t.tkl, $stopListSql)) AS stopword_hits
       |  FROM base b
       |  JOIN toks t USING (doc_id)
       |  JOIN lines ln USING (doc_id)
       |  LEFT JOIN lstat ls USING (doc_id)
       |  LEFT JOIN pstat ps2 USING (doc_id)
       |  LEFT JOIN covstat cs USING (doc_id))
       |SELECT doc_id, stopword_hits::BIGINT AS hits,
       |  (token_count BETWEEN 20 AND 1000000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |   AND dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
       |   AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
       |   AND dup_ngram_cov <= 0.15 AND bullet_frac <= 0.90
       |   AND ellipsis_frac <= 0.30 AND alpha_frac >= 0.80
       |   AND stopword_hits >= $minHits) AS keep
       |FROM sig)""".stripMargin

}
