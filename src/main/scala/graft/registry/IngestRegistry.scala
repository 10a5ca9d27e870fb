package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import OracleFragments._

/** Ingest sources/sinks, embedding, pipeline hygiene (splits/sampling) and multimodal plumbing (SURVEY §2.1, §2.8 F6, north star).
  *
  * One slice of the driver registry (see [[graft.SparkEntry]], which
  * composes all slices): entry text is verbatim from the pre-split
  * SparkEntry, so the oracle gate's evidence carries over unchanged.
  */
private[graft] object IngestRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- ingest + embed (SURVEY §2.1 S1/S2/S6, §2.8 F6, §2.2 P1) ---
    // int8 quantization: oracled integer audit + approximate search
    // twin (recall-tested, not SQL-expressible)
    "quantize_stats" -> ((s, d) => Quantization.quantizeStats(s, d)),
    "knn_quantized" -> ((s, d) => Quantization.knnQuantized(s, d)),
    "ivf_search_quantized" -> ((s, d) => IndexAudits.ivfQuantAudit(s, d)),
    // binary (1-bit) quantization: sign-bit signatures + Hamming scan
    // (FAISS IndexBinaryFlat) and its exact-L2 refine — seedless, so
    // both are hash-exact oracled (DuckDB re-derives the identical
    // signatures; the knnQuantized precedent)
    "knn_binary" -> ((s, d) => Quantization.knnBinary(s, d)),
    "knn_binary_rerank" -> ((s, d) => Quantization.knnBinaryRerank(s, d)),
    // IVF-binary (IndexBinaryIVF shape): list membership is k-means-
    // dependent, so the registered surface is the deterministic
    // self-audit (probed-membership/bounds/recall flags) — the
    // ivf_search_quantized pattern; raw rows via ivfSearchBinary
    "ivf_search_binary" -> ((s, d) => IndexAudits.ivfBinaryAudit(s, d)),
    // product quantization (IVF-PQ shape): codebooks are learned, so
    // the raw outputs are engine-specific — each registered surface is
    // the deterministic self-audit (mass/range invariants, exact-
    // recompute refine distances, persisted ≡ memory equality, measured
    // recall floors stated literal TRUE); raw search paths stay on
    // Pq.searchPq / ivfSearchPq / persistedSearchPq / pqStats
    // PCA pre-transform (FAISS PCAMatrix / IndexPreTransform): the
    // covariance means/variances are order-proof decimal sums (hash-
    // exact oracle); the eigensolve is engine-side, so its invariants
    // ride as replayable flags, and the search path registers the
    // deterministic self-audit (exact-recompute re-rank distances +
    // measured recall floor)
    "pca_stats" -> ((s, d) => Pca.pcaStats(s, d)),
    "knn_pca_rerank" -> ((s, d) => IndexAudits.pcaRerankAudit(s, d)),
    // additive moment log: wave appends + retrain-from-log ≡ one-pass
    "pca_persisted" -> ((s, d) => IndexAudits.pcaPersistedAudit(s, d)),
    // MMR diversity re-rank: every number is a fixed-order double
    // computation over the exact-cosine shortlist, so the DuckDB
    // oracle replays the whole greedy as a recursive CTE — hash-exact
    "mmr_rerank" -> ((s, d) => Mmr.mmrRerank(s, d)),
    // batch MMR: per-query greedy on the executors (flatMapGroups over
    // the knn_batch shortlist shape) — same fixed-order doubles, so
    // the oracle replays all greedies in one recursive CTE
    "mmr_batch" -> ((s, d) => Mmr.mmrBatch(s, d)),
    // index-backed MMR: the shortlist generator swapped to the IVF
    // coarse probe (nprobe=nlist ≡ mmr_rerank exactly, test-pinned)
    "mmr_ivf" -> ((s, d) => IndexAudits.mmrIvfAudit(s, d)),
    // the composed compression ladder: PCA pre-transform -> coarse IVF
    // in PCA space -> residual PQ ADC -> exact full-dim refine (the
    // FAISS IndexPreTransform(PCAMatrix, IndexIVFPQ) shape)
    "ivf_pq_pca_search" -> ((s, d) => IndexAudits.ivfPqPcaAudit(s, d)),
    // persisted chained artifact (the reference's index.faiss save/
    // load-without-retrain lifecycle, app.py:116-145): loaded models
    // bit-identical + persisted search ≡ in-memory search, hash-exact
    "ivf_pq_pca_persisted" -> ((s, d) => IndexAudits.ivfPqPcaPersistedAudit(s, d)),
    // FAISS add() on the trained chained artifact (app.py:55): frozen
    // models encode a second-half wave; marker-idempotent commit
    "ivf_pq_pca_append" -> ((s, d) => IndexAudits.ivfPqPcaAppendAudit(s, d)),
    "pq_stats" -> ((s, d) => IndexAudits.pqStatsAudit(s, d)),
    "knn_pq" -> ((s, d) => IndexAudits.pqFlatAudit(s, d)),
    "ivf_search_pq" -> ((s, d) => IndexAudits.ivfPqAudit(s, d)),
    "pq_persisted_search" -> ((s, d) => IndexAudits.pqPersistedAudit(s, d)),
    // the corpus source is unordered by design; id order is this
    // query's output contract, so the sort lives here at the edge
    "corpus_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.sources.Ingest.corpusFromDocuments(s, d).orderBy(col("id").asc)
    }),
    "embed_documents" -> ((s, d) => EmbedOps.embedDocumentsStats(s, d)),
    // end-to-end embed→search pipeline: the embedding space is
    // engine-specific, so the registered surface is the self-audit
    // (tight top-k re-verified against every candidate, exact distance
    // recompute); raw hits via EmbedOps.docKnn
    "doc_knn" -> ((s, d) => IndexAudits.docKnnAudit(s, d)),
    // --- ingest surface (S1/S2/S5, app.py:199-223, 313-319) ---
    "ingest_csv" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dir = StateDir.of("fixtures", d, "csv")
      // fixture rows must land in id order (the re-ingest assigns
      // positional ids the oracle restates); the corpus source itself
      // is unordered
      graft.sources.Ingest.corpusFromDocuments(s, d)
        .orderBy(col("id").asc)
        .select(col("sentence").as(graft.sources.Ingest.SentencesCol))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      graft.sources.Ingest.fromCsv(s, dir)
    }),
    "ingest_lines" -> ((s, _) =>
      graft.sources.Ingest.fromLines(s, "alpha\n beta \n\ngamma delta\n")),
    // JSONL source round trip (schema-inferred json scan; the oracle
    // restates the semantics over the documents view, same pattern as
    // ingest_csv)
    "ingest_jsonl" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, length}
      val dir = StateDir.of("fixtures", d, "jsonl")
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .coalesce(1).write.mode("overwrite").json(dir)
      s.read.json(dir)
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id").asc)
    }),
    // ORC source round trip (columnar-format coverage next to the
    // jsonl one; the oracle restates the semantics over documents)
    "ingest_orc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, length}
      val dir = StateDir.of("fixtures", d, "orc")
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .coalesce(1).write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id").asc)
    }),
    // F3: the reference's newline display join, capped (app.py:231-233)
    "corpus_display" -> ((s, d) =>
      graft.sources.Ingest.joinedDisplay(
        graft.sources.Ingest.corpusFromDocuments(s, d))),
    // --- pipeline hygiene (north star): reproducible splits +
    // benchmark decontamination ---
    "sample_split" -> ((s, d) => Sampling.sampleSplit(s, d)),
    // split keyed on the near-dup cluster canonical id, so a duplicate
    // pair can never straddle train/test (the leakage guard per-doc
    // hash splits lack)
    "split_leakage_safe" -> ((s, d) => Sampling.leakageSafeSplit(s, d)),
    "contamination" -> ((s, d) => Dedup.contamination(s, d)),
    // --- multimodal plumbing (north star; payload stays narrow) ---
    "multimodal_features" -> ((s, d) => MultimodalOps.mediaFeatureStats(s, d)),
    "frame_sample" -> ((s, d) => MultimodalOps.frameSampleStats(s, d)),
  )

  val oracles: Map[String, String] = Map(

    "corpus_ingest" ->
      """SELECT doc_id AS id, trim(text) AS sentence FROM documents
        |WHERE length(trim(text)) > 0
        |ORDER BY id""".stripMargin,
    // The embedder L2-normalizes: norm is exactly 1.0 iff the doc has
    // ≥1 [a-z0-9] token after lowercasing, else 0.0 (see
    // EmbedOps.embedDocumentsStats).
    "embed_documents" ->
      """SELECT doc_id AS id, 64 AS dim,
        |  CAST(CASE WHEN regexp_matches(lower(text), '[a-z0-9]')
        |       THEN 1.0 ELSE 0.0 END AS DOUBLE) AS l2_norm
        |FROM documents
        |WHERE length(trim(text)) > 0
        |ORDER BY id""".stripMargin,
    // per-dimension mean/variance through the label_centroids decimal
    // route (per-row x·x is an exact double; double → shortest string
    // → DECIMAL(28,10) HALF_UP is engine-identical; decimal sums are
    // associative, so any shuffle order hash-matches); the eigensolve
    // invariants are replayable engine flags stated literal TRUE
    "pca_stats" ->
      """WITH pp AS (
        |  SELECT t.i - 1 AS pos, CAST(embedding[t.i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |q AS (
        |  SELECT pos,
        |    CAST(CAST(CASE WHEN ABS(v) < 5e-11 THEN 0 ELSE v END
        |      AS VARCHAR) AS DECIMAL(28,10)) AS dv,
        |    CAST(CAST(CASE WHEN v * v < 5e-11 THEN 0 ELSE v * v END
        |      AS VARCHAR) AS DECIMAL(28,10)) AS dvv
        |  FROM pp),
        |agg AS (
        |  SELECT pos,
        |    CAST(SUM(dv) AS DOUBLE) / COUNT(*) AS mean,
        |    CAST(SUM(dvv) AS DOUBLE) / COUNT(*) -
        |      (CAST(SUM(dv) AS DOUBLE) / COUNT(*)) *
        |      (CAST(SUM(dv) AS DOUBLE) / COUNT(*)) AS var_pop
        |  FROM q GROUP BY pos)
        |SELECT pos, mean, var_pop, TRUE AS mean_match_ok,
        |  TRUE AS eigen_residual_ok, TRUE AS orthonormal_ok,
        |  TRUE AS eigvals_ok, TRUE AS trace_matches_ok
        |FROM agg ORDER BY pos""".stripMargin,
    "knn_pca_rerank" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok,
        |  TRUE AS not_self_ok, TRUE AS recall_ok""".stripMargin,
    "pca_persisted" ->
      """SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
        |  2::BIGINT AS n_waves, TRUE AS counts_match_ok,
        |  TRUE AS means_match_ok, TRUE AS trace_match_ok,
        |  TRUE AS eigvals_match_ok, TRUE AS orthonormal_ok,
        |  TRUE AS replay_noop_ok""".stripMargin,
    // full greedy MMR replay: the recursive CTE carries the selected
    // set, re-ranks the remaining shortlist by
    // 0.7·sim(q,d) − 0.3·max_sim(d, selected) each step, and picks the
    // (score DESC, vec_id ASC) head — every double is the same
    // fixed-order IEEE sequence the engine computes, so the result
    // hash-matches bit-for-bit (coefficients are literals on both
    // sides; 1 − 0.7 would differ from 0.3 in the last ulp)
    "mmr_rerank" ->
      s"""WITH RECURSIVE short AS MATERIALIZED (
         |  SELECT b.vec_id, b.embedding,
         |    ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS simq
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0
         |  ORDER BY simq DESC, b.vec_id ASC LIMIT 30),
         |pick(rank, vec_id, mmr_score, sel) AS (
         |  (SELECT 1, vec_id, 0.7 * simq - 0.3 * 0.0, [vec_id] FROM short
         |   ORDER BY 0.7 * simq - 0.3 * 0.0 DESC, vec_id ASC LIMIT 1)
         |  UNION ALL
         |  (SELECT p.rank + 1, c.vec_id,
         |     0.7 * c.simq - 0.3 * max(${sqlDot("c.embedding", "s.embedding")} /
         |       (sqrt(${sqlDot("c.embedding", "c.embedding")}) * sqrt(${sqlDot("s.embedding", "s.embedding")}))),
         |     list_append(p.sel, c.vec_id)
         |   FROM pick p
         |   JOIN short c ON NOT list_contains(p.sel, c.vec_id)
         |   JOIN short s ON list_contains(p.sel, s.vec_id)
         |   WHERE p.rank < 10
         |   GROUP BY p.rank, p.sel, c.vec_id, c.simq
         |   ORDER BY 0.7 * c.simq - 0.3 * max(${sqlDot("c.embedding", "s.embedding")} /
         |       (sqrt(${sqlDot("c.embedding", "c.embedding")}) * sqrt(${sqlDot("s.embedding", "s.embedding")}))) DESC,
         |     c.vec_id ASC
         |   LIMIT 1)
         |)
         |SELECT rank::BIGINT AS rank, vec_id, mmr_score FROM pick
         |ORDER BY rank""".stripMargin,
    // batch form: one recursive CTE advances EVERY query's greedy one
    // step per iteration — per-qid argmax via a row_number window
    // (QUALIFY), selected-set list state per qid; same fixed-order
    // doubles as the engine's per-group greedy, so it hash-matches
    "mmr_batch" ->
      s"""WITH RECURSIVE short AS MATERIALIZED (
         |  SELECT a.vec_id AS qid, b.vec_id, b.embedding,
         |    ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS simq
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) DESC,
         |      b.vec_id ASC) <= 20),
         |pick(qid, rank, vec_id, mmr_score, sel) AS (
         |  (SELECT qid, 1, vec_id, 0.7 * simq - 0.3 * 0.0, [vec_id] FROM short
         |   QUALIFY row_number() OVER (PARTITION BY qid
         |     ORDER BY 0.7 * simq - 0.3 * 0.0 DESC, vec_id ASC) = 1)
         |  UNION ALL
         |  (SELECT * FROM (
         |     SELECT c.qid, p.rank + 1 AS rank, c.vec_id,
         |       0.7 * c.simq - 0.3 * max(${sqlDot("c.embedding", "s.embedding")} /
         |         (sqrt(${sqlDot("c.embedding", "c.embedding")}) * sqrt(${sqlDot("s.embedding", "s.embedding")}))) AS mmr_score,
         |       list_append(p.sel, c.vec_id) AS sel
         |     FROM pick p
         |     JOIN short c ON c.qid = p.qid AND NOT list_contains(p.sel, c.vec_id)
         |     JOIN short s ON s.qid = p.qid AND list_contains(p.sel, s.vec_id)
         |     WHERE p.rank < 5
         |     GROUP BY c.qid, p.rank, p.sel, c.vec_id, c.simq)
         |   QUALIFY row_number() OVER (PARTITION BY qid, rank
         |     ORDER BY mmr_score DESC, vec_id ASC) = 1)
         |)
         |SELECT qid, rank::BIGINT AS rank, vec_id, mmr_score FROM pick
         |ORDER BY qid, rank""".stripMargin,
    "knn_pq" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok,
        |  TRUE AS not_self_ok, TRUE AS recall_ok""".stripMargin,
    "ivf_search_pq" ->
      """SELECT 10 AS n_hits, TRUE AS hits_in_probed_ok,
        |  TRUE AS not_self_ok, TRUE AS recall_ok""".stripMargin,
    "mmr_ivf" ->
      """SELECT 10 AS n_rows, TRUE AS ranks_ok, TRUE AS ids_distinct_ok,
        |  TRUE AS not_self_ok, TRUE AS hits_in_probed_ok,
        |  TRUE AS first_score_ok, TRUE AS recall_ok""".stripMargin,
    "ivf_pq_pca_search" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok, TRUE AS hits_in_probed_ok,
        |  TRUE AS not_self_ok, TRUE AS recall_ok""".stripMargin,
    "ivf_pq_pca_persisted" ->
      """SELECT 10 AS n_hits, TRUE AS results_match_ok,
        |  TRUE AS model_roundtrip_ok, TRUE AS not_self_ok""".stripMargin,
    "ivf_pq_pca_append" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(COUNT(*) - COUNT(*) // 2 AS BIGINT) AS n_appended,
        |  TRUE AS replay_noop_ok, TRUE AS coverage_ok,
        |  TRUE AS codes_match_ok, TRUE AS search_ok
        |FROM embeddings""".stripMargin,
    "pq_persisted_search" ->
      """SELECT 10 AS n_hits, TRUE AS matches_memory_ok""".stripMargin,
    "pq_stats" ->
      """SELECT 8 AS n_subspaces, TRUE AS mass_ok, TRUE AS codes_in_range_ok""".stripMargin,
    "ivf_search_quantized" ->
      """SELECT 10 AS n_hits, TRUE AS hits_in_probed_ok,
        |  TRUE AS sims_bounded_ok, TRUE AS recall_vs_flat_ok""".stripMargin,
    "ivf_search_binary" ->
      """SELECT 10 AS n_hits, TRUE AS hits_in_probed_ok,
        |  TRUE AS hamming_bounded_ok, TRUE AS recall_vs_flat_ok""".stripMargin,
    "doc_knn" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok,
        |  TRUE AS not_self_ok, TRUE AS topk_tight_ok""".stripMargin,
    // CSV sink → CSV source round trip must reproduce the corpus with
    // positional ids (file order = id order).
    "ingest_csv" ->
      """SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id,
        |  trim(text) AS sentence
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY id""".stripMargin,
    "ingest_lines" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'alpha'),
        |  (CAST(1 AS BIGINT), 'beta'),
        |  (CAST(2 AS BIGINT), 'gamma delta')) AS t(id, sentence)
        |ORDER BY id""".stripMargin,
    "ingest_jsonl" ->
      """SELECT doc_id, lang, source, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ingest_orc" ->
      """SELECT doc_id, lang, source, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_display" ->
      """SELECT COUNT(*) AS n_docs,
        |  string_agg(sentence, chr(10) ORDER BY id) AS joined
        |FROM (SELECT doc_id AS id, trim(text) AS sentence FROM documents
        |      WHERE length(trim(text)) > 0 ORDER BY id LIMIT 500)""".stripMargin,
    // BM25: every floating-point step mirrors the Spark expression
    // tree op-for-op (decimal literals forced to DOUBLE so DuckDB
    // doesn't fall into decimal arithmetic); the per-term pivot makes
    // the score summation order fixed; round(6) absorbs ln() ulps
    // int8 quantization audit: after the float max|x|, everything is
    // integer arithmetic (round-half-away both engines), so the whole
    // row hash-matches; scale itself is one float-exact division
    // quantization is seedless and deterministic — the oracle
    // re-derives the int8 codes (same construction quantize_stats
    // hash-passes with) and replays the integer-dot cosine rank; the
    // double arithmetic is the same correctly-rounded IEEE op sequence
    // in both engines, so the top-k hash-matches
    "knn_quantized" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding, x -> round(x::DOUBLE / scale)::INTEGER)
        |    END AS qv
        |  FROM q),
        |qry AS (SELECT qv AS qvec FROM qq WHERE vec_id = 0),
        |scored AS (
        |  SELECT a.vec_id,
        |    list_sum(list_transform(range(1, len(a.qv)+1),
        |      i -> (a.qv[i]::BIGINT) * (qry.qvec[i]::BIGINT)))::BIGINT AS dot_qq,
        |    list_sum(list_transform(a.qv, x -> (x::BIGINT) * (x::BIGINT)))::BIGINT AS norm_a,
        |    list_sum(list_transform(qry.qvec, x -> (x::BIGINT) * (x::BIGINT)))::BIGINT AS norm_b
        |  FROM qq a CROSS JOIN qry
        |  WHERE a.vec_id <> 0)
        |SELECT vec_id,
        |  CASE WHEN norm_a = 0 OR norm_b = 0 THEN 0.0
        |       ELSE dot_qq::DOUBLE / (sqrt(norm_a::DOUBLE) * sqrt(norm_b::DOUBLE)) END AS sim
        |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // binary signatures are seedless sign bits — DuckDB re-derives them
    // with the dedup_simhash HUGEINT packing and replays the Hamming
    // ranking exactly
    "knn_binary" ->
      s"""WITH $sqlBinarySig
         |SELECT b.vec_id AS vec_id, bit_count(xor(q.sig, b.sig))::INT AS hamming
         |FROM bsig b, (SELECT sig FROM bsig WHERE vec_id = 0) q
         |WHERE b.vec_id <> 0
         |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin,
    // binary shortlist (Hamming top-50) -> exact squared-L2 re-rank of
    // only the shortlist rows — the refine pattern, fully restatable
    "knn_binary_rerank" ->
      s"""WITH $sqlBinarySig,
         |short AS (
         |  SELECT b.vec_id
         |  FROM bsig b, (SELECT sig FROM bsig WHERE vec_id = 0) q
         |  WHERE b.vec_id <> 0
         |  ORDER BY bit_count(xor(q.sig, b.sig)) ASC, b.vec_id ASC LIMIT 50)
         |SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS dist
         |FROM embeddings a, embeddings b
         |WHERE a.vec_id = 0
         |  AND b.vec_id IN (SELECT vec_id FROM short)
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "quantize_stats" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding, x -> round(x::DOUBLE / scale)::INTEGER)
        |    END AS qv
        |  FROM q)
        |SELECT vec_id, scale,
        |  list_sum(qv)::BIGINT AS q_sum,
        |  list_min(qv)::BIGINT AS q_min,
        |  list_max(qv)::BIGINT AS q_max
        |FROM qq ORDER BY vec_id""".stripMargin,
    // leakage-safe split: the minhash_clusters CC chain, with the
    // train/val/test assignment hashed on the CANONICAL id — DuckDB
    // reproduces both the clustering and the md5 hex-threshold split
    "split_leakage_safe" ->
      s"""WITH RECURSIVE $sqlMinhashSig,
         |bands AS (
         |  SELECT id, t.b AS band, sig[2*t.b+1] || '|' || sig[2*t.b+2] AS key
         |  FROM sig, range(0, 4) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |pairs AS (
         |  SELECT c.a_id, c.b_id FROM cand c
         |  JOIN tokenized ta ON ta.id = c.a_id
         |  JOIN tokenized tb ON tb.id = c.b_id
         |  WHERE len(list_intersect(list_distinct(ta.toks), list_distinct(tb.toks)))::DOUBLE
         |      / len(list_distinct(ta.toks || tb.toks)) >= 0.8),
         |edges AS MATERIALIZED (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(src, node) AS (
         |  SELECT id, id FROM tokenized
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
         |clusters AS (
         |  SELECT src AS id, MIN(node) AS canonical_id FROM reach GROUP BY src)
         |SELECT id, canonical_id,
         |  CASE WHEN substr(md5('graft' || canonical_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
         |       WHEN substr(md5('graft' || canonical_id::VARCHAR), 1, 2) < 'e7' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM clusters
         |ORDER BY id""".stripMargin,
    // deterministic md5-prefix split: DuckDB computes the identical
    // assignment (hex-string thresholds, no numeric conversion)
    "sample_split" ->
      """SELECT doc_id AS id,
        |  CASE WHEN substr(md5('graft' || doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5('graft' || doc_id::VARCHAR), 1, 2) < 'e7' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY id""".stripMargin,
    // n-gram contamination between the benchMod-defined benchmark
    // split and the rest: distinct 3-token shingles, df-capped, shared
    // counts per (train, bench) pair
    "contamination" ->
      s"""WITH $sqlCorpusToks,
         |tokenized AS (SELECT * FROM corpus WHERE len(toks) > 0),
         |sh AS (
         |  SELECT id, toks,
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(range(1, len(toks) - 1),
         |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |      ELSE [coalesce(list_aggregate(toks, 'string_agg', ' '), '')] END AS shingles
         |  FROM tokenized),
         |shx AS (SELECT DISTINCT id, s
         |        FROM (SELECT id, unnest(shingles) AS s FROM sh)),
         |dfreq AS (SELECT s, COUNT(*) AS df FROM shx GROUP BY s),
         |kept AS (SELECT shx.id, shx.s FROM shx JOIN dfreq USING (s)
         |         WHERE df <= 1000)
         |SELECT t.id AS train_id, b.id AS bench_id, COUNT(*) AS n_shared
         |FROM kept t JOIN kept b ON t.s = b.s
         |WHERE t.id % 50 <> 0 AND b.id % 50 = 0
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 1
         |ORDER BY 1, 2""".stripMargin,
    // n_bytes/md5 computed INSIDE the partition-batched codec — a hash
    // match proves the binary payload plumbing end to end.
    "multimodal_features" ->
      """SELECT doc_id AS id, 'text/plain' AS mime,
        |  octet_length(encode(trim(text))) AS n_bytes,
        |  md5(trim(text)) AS fp
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY id""".stripMargin,
    // frame sampling: 64-byte frames, every 2nd kept; documents are
    // ASCII (asserted at build time in the testdata) so substr slices
    // the same bytes the codec hashes
    "frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id AS id, trim(text) AS s FROM documents
        |  WHERE length(trim(text)) > 0),
        |f AS (
        |  SELECT id, s, unnest(range(0, (length(s) + 63) // 64)) AS frame_idx
        |  FROM d)
        |SELECT id, frame_idx::BIGINT AS frame_idx,
        |  least(64, length(s) - frame_idx * 64)::BIGINT AS n_frame_bytes,
        |  md5(substr(s, (frame_idx * 64 + 1)::INTEGER, 64)) AS frame_md5
        |FROM f WHERE frame_idx % 2 = 0
        |ORDER BY id, frame_idx""".stripMargin,
  )
}
