package graft.gates

import graft.operators.Decontamination

/** The gates of [[graft.operators.Decontamination]]: each run with its DuckDB oracle. */
object DecontaminationGates {
  val gates: Seq[Gate] = Seq(
    // The Bloom prefilter is a bandwidth valve only (no false
    // negatives; FPs removed by the exact confirm join), so the
    // oracle is the plain exact 7-gram overlap with no sketch.
    Gate("dc3_bloom_decontaminate", (s, d) => Decontamination.bloomPrefilteredOverlap(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-5),
        |        i -> array_to_string(ws[i:i+6], ' '))) AS grams
        |      FROM w WHERE len(ws) >= 7),
        |tr AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 10 != 7),
        |ev AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        |  FROM ev e JOIN tr t ON e.gram = t.gram GROUP BY 1
        |), per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM ev GROUP BY 1)
        |SELECT p.doc_id, p.n_grams, h.n_contaminated
        |FROM per p JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin),
    // Decontamination: held-out docs (md5 bucket e-f) probed against the
    // distinct 8-gram set of the training split (buckets 0-b); gram key =
    // 16-hex md5 prefix on both engines.
    Gate("dc1_decontamination", (s, d) => Decontamination.ngramOverlap(s, d),
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1,
        |    regexp_split_to_array(trim(text),'\s+') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, h1,
        |    substr(md5(array_to_string(ws[i:i+7],' ')),1,16) AS g
        |  FROM w, unnest(range(1, greatest(len(ws)-6,1))) AS t(i)),
        |tg AS (SELECT DISTINCT g FROM g WHERE h1 NOT IN ('c','d','e','f')),
        |te AS (SELECT doc_id, g.g, tg.g AS hit FROM g LEFT JOIN tg USING(g)
        |  WHERE h1 IN ('e','f')),
        |a AS (SELECT doc_id, count(*) AS n_grams, count(hit) AS n_contaminated
        |  FROM te GROUP BY doc_id),
        |he AS (SELECT doc_id FROM w WHERE h1 IN ('e','f'))
        |SELECT he.doc_id, CAST(COALESCE(n_grams,0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n_contaminated,0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN COALESCE(n_grams,0) > 0 THEN
        |    round(CAST(n_contaminated AS DOUBLE)/CAST(n_grams AS DOUBLE),6)
        |  END AS contaminated_frac
        |FROM he LEFT JOIN a USING(doc_id) ORDER BY doc_id""".stripMargin),
    // Contamination span localization: gaps-and-islands over hit
    // positions (pos - row_number constant within a run).
    Gate("dc2_contaminated_spans", (s, d) => Decontamination.contaminatedSpans(s, d),
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1,
        |    regexp_split_to_array(trim(text),'\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, h1, i - 1 AS pos,
        |    substr(md5(array_to_string(ws[i:i+7],' ')),1,16) AS g
        |  FROM w, unnest(range(1, greatest(len(ws)-6,1))) AS t(i)),
        |tg AS (SELECT DISTINCT g FROM g WHERE h1 NOT IN ('c','d','e','f')),
        |hit AS (SELECT g.doc_id, g.pos FROM g JOIN tg USING (g)
        |  WHERE h1 IN ('e','f')),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hit)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  CAST(min(pos) AS BIGINT) AS first_pos,
        |  CAST(max(pos) AS BIGINT) AS last_pos,
        |  CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
        |FROM isl GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
