package graft.gates

import graft.operators.{Dedup, TextAnalysis}
import Oracles.{sqlList, foldSum, foldDot, foldCosine, ivfLloydChainSql, shingleCtes}

/** The gates of [[graft.operators.Dedup]]: each run with its DuckDB oracle. */
object DedupGates {
  val gates: Seq[Gate] = Seq(
    Gate("dd1_exact_dedup", (s, d) => Dedup.exactDedup(s, d),
      """SELECT sha256(text) AS text_sha, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_doc_id""".stripMargin),
    Gate("dd2_minhash_lsh", (s, d) => Dedup.minhashLshPairs(s, d), jaccardOracle(0.7)),
    // SimHash over the cross-engine md5 word hash: the oracle rebuilds
    // the 60-bit hashes (hex-char fold), takes per-bit majority votes,
    // and compares pairs by Hamming distance — equivalent to the
    // Spark side's pigeonhole chunk blocking, which is exact for
    // maxDist 7 < 8 chunks. The gate narrows to one deterministic
    // 1-in-8 probe shard on the smaller doc_id (the xl1 bound
    // pattern), mirrored here as `a.doc_id % 8 = 0`; the library
    // default stays probeShards=1 (the full pair set).
    Gate("dd3_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(s, d, probeShards = 8, shard = 0),
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(w)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c) AS h
        |  FROM w),
        |v AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2),
        |s AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
        |  FROM v GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.doc_id % 8 = 0
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin),
    Gate("dd4_ngram_jaccard", (s, d) => Dedup.jaccardPairs(s, d), cappedJaccardOracle(0.5, 1000)),
    Gate("dd5_embedding_dup", (s, d) => Dedup.embeddingDupPairs(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${foldCosine("a.v", "b.v")}, 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${foldCosine("a.v", "b.v")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin),
    // Components via recursive closure (graph is tiny at oracle SF);
    // Spark computes the same labels by BSP min propagation.
    Gate("dd6_dup_clusters", (s, d) => Dedup.duplicateClusters(s, d),
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a)
         |SELECT n AS doc_id, min(m) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin),
    // s3: dd6's connected-component chain, then the s1 md5 12/2/2
    // bucket map applied to the CLUSTER REP — the oracle hashes every
    // per-doc assignment, so one cluster straddling a split boundary
    // is a hash failure.
    Gate("s3_leakage_safe_split", (s, d) => Dedup.leakageSafeSplit(s, d),
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n)
         |SELECT doc_id, cluster_rep, CASE
         |    WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1)
         |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         |    WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1) IN ('c','d')
         |      THEN 'val'
         |    ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin),
    // c5 composes the SAME computation through the TxTable commit log,
    // changes feed and a persisted band-index table — same contract,
    // same exact oracle: the composition must reproduce the monolith.
    Gate("c5_tx_incremental_dedup", (s, d) => Dedup.txIncrementalDedupGate(s, d),
      incrementalNearDupOracle),
    // CDC chunk dedup: the oracle recomputes the kernel's window-bag
    // boundary rule by exploding chars through a windowed SUM — same
    // mix, same mod-64 coin, same substring character indexing.
    Gate("cdc1_chunk_dedup", (s, d) => Dedup.chunkDedup(s, d),
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text,'')) AS c,
        |         generate_subscripts(string_split(text,''), 1) AS i
        |  FROM documents),
        |g AS (SELECT doc_id, i,
        |    (unicode(c) * 2654435761) % 2147483647 AS gv FROM ch),
        |h AS (SELECT doc_id, i,
        |    CAST(sum(gv) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT) AS wh,
        |    CAST(count(*) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT) AS wn
        |  FROM g),
        |b AS (SELECT doc_id, CAST(i AS BIGINT) AS pos FROM h
        |  WHERE wn = 16 AND wh % 64 = 0),
        |bl AS (SELECT doc_id, list_sort(list(pos)) AS bounds FROM b GROUP BY 1),
        |d AS (SELECT d0.doc_id, d0.text,
        |    coalesce(bl.bounds, []) AS bounds, length(d0.text) AS n
        |  FROM documents d0 LEFT JOIN bl ON d0.doc_id = bl.doc_id),
        |ck AS (SELECT doc_id, unnest(list_transform(
        |    list_zip(list_prepend(CAST(0 AS BIGINT), bounds),
        |             list_append(bounds, CAST(n AS BIGINT))),
        |    p -> substring(text, CAST(p[1] AS INT) + 1,
        |      CAST(p[2] - p[1] AS INT)))) AS chunk
        |  FROM d),
        |cf AS (SELECT doc_id, chunk FROM ck WHERE length(chunk) >= 32)
        |SELECT md5(chunk) AS chunk_md5,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM cf GROUP BY chunk
        |HAVING count(*) > 1
        |ORDER BY n_occurrences DESC, chunk_md5 LIMIT 20""".stripMargin),
    // Oracle confirms the PassJoin segment blocking is recall-complete
    // by brute-forcing all pairs (gate scale only).
    Gate("dd7_editdist_pairs", (s, d) => Dedup.editDistancePairs(s, d),
      """WITH p AS (SELECT doc_id, rpad(substr(text, 1, 64), 64, ' ') AS p FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.p, b.p) AS INT) AS dist
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Fellegi-Sunter: nationkey blocking, three cents-band agreement
    // fields, micro-nat integer log-odds weights (same literals as
    // the Spark plan).
    Gate("rl1_record_linkage", (s, d) => Dedup.recordLinkage(s, d),
      """WITH c AS (SELECT c_custkey, c_nationkey AS blk,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cb FROM customer),
        |s AS (SELECT s_suppkey, s_nationkey AS blk,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS sb FROM supplier),
        |p AS (SELECT c_custkey, s_suppkey,
        |    (cb >= 0) = (sb >= 0) AS a1,
        |    floor(cb / 100000.0) = floor(sb / 100000.0) AS a2,
        |    floor(cb / 1000.0) = floor(sb / 1000.0) AS a3
        |  FROM c JOIN s USING (blk)),
        |sc AS (SELECT c_custkey, s_suppkey,
        |    CAST(a1 AS INT) + CAST(a2 AS INT) + CAST(a3 AS INT) AS n_agree,
        |    (CASE WHEN a1 THEN 492476 ELSE -1504077 END
        |     + CASE WHEN a2 THEN 1763589 ELSE -1076139 END
        |     + CASE WHEN a3 THEN 3601868 ELSE -783394 END) AS su
        |  FROM p)
        |SELECT c_custkey, s_suppkey, n_agree,
        |  round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score
        |FROM sc ORDER BY su DESC, c_custkey, s_suppkey LIMIT 20""".stripMargin),
    Gate("dd12_ingest_dedup", (s, d) => Dedup.incrementalIngestDedup(s, d),
      """SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents b WHERE b.doc_id % 10 != 0
        |    AND md5(substring(b.text, 1, 100)) = md5(substring(d.text, 1, 100)))
        |ORDER BY doc_id""".stripMargin),
    // Exact cross-split Jaccard: the LSH path must find every
    // (delta, base) pair at J >= 0.7 or the hash check fails.
    Gate("dd16_incremental_neardup", (s, d) => Dedup.incrementalNearDedup(s, d),
      incrementalNearDupOracle),
    // Deterministic HLL: 60-bit md5 hashes (hex-fold, no conv() in
    // DuckDB), rank via bin() length, harmonic sum kept as the exact
    // integer sum of 2^(55-M); the only doubles are one division and
    // the ln() correction, both mirrored op-for-op.
    Gate("dd13_containment", (s, d) => Dedup.containmentPairs(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' '))) AS sset
        |  FROM w WHERE len(ws) >= 5),
        |sh AS (SELECT doc_id, unnest(sset) AS shingle FROM sets),
        |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |cap AS (SELECT doc_id, shingle FROM sh JOIN dfs USING (shingle)
        |  WHERE df BETWEEN 2 AND 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cap a JOIN cap b ON a.shingle = b.shingle AND a.doc_id != b.doc_id),
        |sc AS (SELECT doc_a, doc_b,
        |    round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        |      / len(sa.sset), 6) AS containment
        |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, containment FROM sc
        |WHERE containment >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    Gate("dd14_capped_coverage", (s, d) => Dedup.containmentCoverage(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' '))) AS sset
        |  FROM w WHERE len(ws) >= 5),
        |sh AS (SELECT doc_id, unnest(sset) AS shingle FROM sets),
        |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz,
        |    CAST(sum(CASE WHEN df BETWEEN 2 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS capped_sz,
        |    CAST(sum(CASE WHEN df > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS hot_sz
        |  FROM sh JOIN dfs USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, coalesce(st.sz, 0) AS sz,
        |  coalesce(st.capped_sz, 0) AS capped_sz,
        |  coalesce(st.hot_sz, 0) AS hot_sz,
        |  coalesce(st.capped_sz, 0) > 0 AS covered
        |FROM documents d LEFT JOIN st USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Gate("dd15_cluster_canonical", (s, d) => Dedup.clusterCanonical(s, d),
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
         |qw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |qm AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS n_words,
         |    CAST(len(list_filter(ws, x -> x IN (${sqlList(TextAnalysis.Stopwords)}))) AS DOUBLE) AS stop
         |  FROM qw),
         |q AS (SELECT doc_id, round(least(n_words/100.0,1.0)*0.5
         |    + least(stop/n_words*5.0,1.0)*0.5, 6) AS quality FROM qm),
         |j AS (SELECT cl.doc_id, cl.cluster_rep, q.quality FROM cl JOIN q USING (doc_id)),
         |best AS (SELECT cluster_rep,
         |    first(doc_id ORDER BY quality DESC, doc_id ASC) AS canonical_doc
         |  FROM j GROUP BY cluster_rep)
         |SELECT j.doc_id, j.cluster_rep, j.quality, best.canonical_doc,
         |  j.doc_id = best.canonical_doc AS keep
         |FROM j JOIN best USING (cluster_rep) ORDER BY doc_id""".stripMargin),
    Gate("rsp1_repeated_spans", (s, d) => Dedup.repeatedSpans(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |ps AS (SELECT doc_id, unnest(range(1, greatest(len(ws) - 3, 1))) AS i, ws FROM w),
        |sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+4], ' ') AS shingle FROM ps),
        |dfs AS (SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM sh GROUP BY 1),
        |rep AS (SELECT s.doc_id, s.pos FROM sh s JOIN dfs USING (shingle) WHERE df >= 2),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM rep),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |    CAST(max(pos) + 4 AS BIGINT) AS span_end,
        |    CAST(count(*) AS BIGINT) AS n_grams
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end, n_grams FROM sp
        |WHERE n_grams >= 2 ORDER BY doc_id, span_start""".stripMargin),
    // Aligned 8-token segment dedup, keep-first by (doc_id, seg_idx).
    Gate("dd8_segment_dedup", (s, d) => Dedup.segmentDedup(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, i AS seg_idx, array_to_string(ws[1+8*i:8+8*i],' ') AS seg
        |  FROM w, unnest(range(0, len(ws)//8)) AS t(i)),
        |k AS (SELECT *, row_number() OVER (PARTITION BY seg
        |    ORDER BY doc_id, seg_idx) AS rn FROM s),
        |kept AS (SELECT doc_id, seg_idx, seg FROM k WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_segs FROM s GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(tot.n_segs,0) AS BIGINT) AS n_segs,
        |  CAST(coalesce(agg.n_kept,0) AS BIGINT) AS n_kept,
        |  coalesce(agg.cleaned,'') AS cleaned_text
        |FROM documents d LEFT JOIN tot USING(doc_id) LEFT JOIN agg USING(doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // dd9 (hash-checked since round 11, closing the last no_oracle
    // pair): the SemDedup chain replayed end to end — the SAME
    // two-sweep quantized-Lloyd assignment ss3 hash-checks
    // ([[ivfLloydChainSql]]), then the within-cluster cosine prune
    // stated exactly as dd5's oracle states its blocked prune: a
    // vector is dropped iff a smaller-id same-cluster neighbor sits at
    // round-6 cosine >= 0.4. Same -2·v·c + ‖c‖² surrogate, same
    // left-to-right folds, same tie-breaks; validated cell-identical
    // against the Spark output before wiring.
    Gate("dd9_semdedup", (s, d) => Dedup.semDedup(s, d),
      (ivfLloydChainSql + s""",
         |losers AS (SELECT DISTINCT b.vec_id FROM a3 a JOIN a3 b
         |  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE round(${foldDot("a.v", "b.v")}
         |    / (sqrt(${foldSum("list_transform(a.v, x -> x*x)")})
         |       * sqrt(${foldSum("list_transform(b.v, x -> x*x)")})), 6) >= 0.4)
         |SELECT vec_id, list_id FROM a3
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin)),
    // DuckDB's jaro_winkler_similarity is the independent oracle for
    // the native kernel (fuzz-verified bit-exact).
    Gate("dd10_jw_fuzzy_pairs", (s, d) => Dedup.jaroWinklerPairs(s, d),
      """WITH p AS (SELECT doc_id, substr(text, 1, 32) AS s FROM documents
        |  WHERE doc_id < 40)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),
    // PPJoin computes the SAME exact pair set, df-cap-free — the oracle
    // is the plain uncapped full Jaccard.
    Gate("dd11_ppjoin_jaccard", (s, d) => Dedup.ppjoinJaccardPairs(s, d), jaccardOracle(0.7)),
    // Reuses t12's winnowing CTE chain verbatim; docs meet only through
    // shared fingerprints, and fingerprints in > 16 docs are dropped
    // before the join (the df-cap lever, mirrored on both engines).
    Gate("dd17_winnow_pairs", (s, d) => Dedup.winnowDupPairs(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 1, 1)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams FROM w),
        |h AS (SELECT doc_id, list_transform(grams, g ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(g)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c)) AS hs FROM g),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |    THEN list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_min(hs[j:j+3])))
        |    ELSE list_distinct(hs) END AS fps FROM h),
        |e AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS fp FROM f),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 16),
        |ec AS (SELECT e.doc_id, e.n_fp, e.fp FROM e JOIN rare USING (fp)),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b, a.n_fp AS na, b.n_fp AS nb,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM ec a JOIN ec b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT a, b, n_shared, na AS n_a, nb AS n_b,
        |  round(CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6)
        |    AS containment
        |FROM p ORDER BY n_shared DESC, a, b""".stripMargin),
    Gate("rl2_multipass_linkage", (s, d) => Dedup.recordLinkageMultiPass(s, d),
      """WITH c AS (SELECT c_custkey, c_nationkey AS nat,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cb FROM customer),
        |s AS (SELECT s_suppkey, s_nationkey AS nat,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS sb FROM supplier),
        |candA AS (SELECT c_custkey, s_suppkey, cb, sb FROM c JOIN s USING (nat)),
        |candB AS (SELECT c_custkey, s_suppkey, cb, sb
        |  FROM c JOIN s ON floor(c.cb / 1000.0) = floor(s.sb / 1000.0)),
        |cand AS (SELECT DISTINCT c_custkey, s_suppkey, cb, sb
        |  FROM (SELECT * FROM candA UNION ALL SELECT * FROM candB)),
        |scored AS (SELECT c_custkey, s_suppkey,
        |    CAST((cb >= 0) = (sb >= 0) AS INT) AS a1,
        |    CAST(floor(cb/100000.0) = floor(sb/100000.0) AS INT) AS a2,
        |    CAST(floor(cb/1000.0) = floor(sb/1000.0) AS INT) AS a3
        |  FROM cand),
        |w AS (SELECT c_custkey, s_suppkey, a1+a2+a3 AS n_agree,
        |    (CASE WHEN a1=1 THEN 492476 ELSE -1504077 END
        |     + CASE WHEN a2=1 THEN 1763589 ELSE -1076139 END
        |     + CASE WHEN a3=1 THEN 3601868 ELSE -783394 END) AS su
        |  FROM scored)
        |SELECT c_custkey, s_suppkey, CAST(n_agree AS INT) AS n_agree,
        |  round(CAST(su AS DOUBLE)/1e6, 6) AS score
        |FROM w ORDER BY su DESC, c_custkey, s_suppkey LIMIT 20""".stripMargin),
  )

  /** Exact cross-split best-match semantics shared by dd16 (monolithic)
    * and c5 (composed through the TxTable seam).
    */
  private lazy val incrementalNearDupOracle: String =
    s"""$shingleCtes,
       |j AS (SELECT doc_a, doc_b,
       |    round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jac
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
       |p AS (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS d,
       |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS b, jac
       |  FROM j WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |m AS (SELECT d, max(jac) AS jac FROM p GROUP BY d),
       |best AS (SELECT p.d, m.jac, min(p.b) AS matched_doc
       |  FROM p JOIN m ON p.d = m.d AND p.jac = m.jac GROUP BY p.d, m.jac)
       |SELECT dd.doc_id, best.matched_doc, best.jac AS jaccard,
       |  best.d IS NULL AS novel
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) dd
       |LEFT JOIN best ON dd.doc_id = best.d
       |ORDER BY doc_id""".stripMargin

  /** Mirror of [[graft.operators.Dedup.jaccardPairsFrom]]: postings
    * df-capped via a count window (df in [2, cap]), `common` counted
    * from the capped posting join, sizes from the FULL shingle sets.
    */
  // df-capped CANDIDATE generation + exact full-set confirm: `inter`
  // (full posting intersection counts, from shingleCtes) restricted to
  // pairs that share at least one df-in-[2,cap] shingle — the same
  // two-phase semantics as Dedup.jaccardPairsFrom.
  private def cappedJaccardOracle(threshold: Double, dfCap: Int): String =
    s"""$shingleCtes,
       |capped AS (SELECT doc_id, shingle FROM (
       |    SELECT sh.*, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df BETWEEN 2 AND $dfCap),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
       |SELECT i.doc_a, i.doc_b,
       |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       |FROM inter i
       |JOIN cand ON cand.doc_a = i.doc_a AND cand.doc_b = i.doc_b
       |JOIN sz sa ON sa.doc_id = i.doc_a
       |JOIN sz sb ON sb.doc_id = i.doc_b
       |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= $threshold
       |ORDER BY i.doc_a, i.doc_b""".stripMargin

  private def jaccardOracle(threshold: Double): String =
    s"""$shingleCtes
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
}
