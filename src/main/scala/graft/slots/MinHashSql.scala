package graft.slots

/** Oracle SQL shared by the portable-MinHash slots of three families
  * (dedup, streaming, text). */
private[slots] object MinHashSql {

  /** Shared portable-minhash permutation table, interpolated into the
    * q90 oracle SQL and through [[mhLanesCtes]] into the MinHash ones,
    * so DuckDB runs LITERALLY the same integer arithmetic as
    * [[graft.operators.Dedup.portableMinhashLanes]]. */
  val mhPermValues: String = graft.operators.Dedup.portablePerms.zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** The norm → shingle-hash → lanes → band-key CTE prefix shared by
    * the portable-minhash oracles of q26, q40, q59, q70 and q86 (ends
    * with a trailing comma). */
  val mhLanesCtes: String =
    s"""WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
      |sh AS (SELECT doc_id, ('0x' || substr(md5(substr(t, CAST(p AS INT), 5)), 1, 8))::BIGINT AS h,
      |substr(t, CAST(p AS INT), 5) AS s FROM
      |(SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS p FROM norm
      |WHERE length(t) >= 5)),
      |lanes AS MATERIALIZED (SELECT doc_id, lane, min((a * h + b) % 4294967311) AS mh
      |FROM sh, (VALUES $mhPermValues) perm(lane, a, b) GROUP BY doc_id, lane),
      |bands AS MATERIALIZED (SELECT doc_id, lane // 4 AS band,
      |md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY lane) || '|' || (lane // 4)) AS bk
      |FROM lanes GROUP BY doc_id, lane // 4),""".stripMargin.replace("\n", " ")
}
