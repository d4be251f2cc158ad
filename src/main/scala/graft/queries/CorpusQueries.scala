package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.operators.Corpus

/**
 * Corpus-preparation queries (round-4 block): lexical BM25 search,
 * deterministic holdout splits, sequence packing, per-group caps, PII
 * redaction, repetition scoring, and batch sessionization — every entry
 * carries a full DuckDB oracle (the formulas are plain SQL on both engines).
 */
object CorpusQueries {
  import Tables.t

  /** Query terms for the BM25 row — present in the generator's vocabulary. */
  private val Bm25Terms = Seq("spark", "join", "stream")
  private val K1 = 1.2
  private val B = 0.75

  private val bm25Oracle: String = {
    val tfCols = Bm25Terms.indices.map(i =>
      s"CAST(len(list_filter(t, x -> x = '${Bm25Terms(i)}')) AS DOUBLE) AS tf_$i")
      .mkString(",\n               ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i")
      .mkString(",\n               ")
    val score = Bm25Terms.indices.map(i =>
      s"ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0) * (tf_$i * ${K1 + 1.0})" +
        s" / (tf_$i + $K1 * (${1.0 - B} + $B * dl / avgdl))")
      .mkString("\n                 + ")
    s"""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), d AS (
        SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
               $tfCols
        FROM tok
      ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
               $dfCols
        FROM d
      ), scored AS (
        SELECT doc_id,
               round($score, 6) AS score
        FROM d CROSS JOIN s
      )
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
      WHERE score > 0
      QUALIFY rank <= 10
      ORDER BY rank"""
  }

  val all: Seq[Q] = Seq(

    // Lexical search — the "search" of the reference's name, re-expressed as
    // scan-local tf + one broadcast stats row + TakeOrdered top-k.
    Q("q_search_bm25", Some(bm25Oracle),
      (s, dir) => Corpus.bm25Search(t(s, dir, "documents"), Bm25Terms,
        k1 = K1, b = B, topK = 10)),

    // Reproducible train/val/test holdout: both engines agree on md5 of the
    // id rendered as a string, so the assignment is portable ground truth.
    Q("q_split_hash", Some("""
      SELECT doc_id,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      ORDER BY doc_id"""),
      (s, dir) => Corpus.hashSplit(
        t(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id")),

    // Deterministic stratified downsampling: 50% of English (md5 byte <
    // 0x80), 10% of other languages (< 0x1a) — portable ground truth, same
    // engine-agnostic md5 trick as q_split_hash.
    Q("q_sample_stratified", Some("""
      SELECT lang, count(*) AS n_sampled, count(DISTINCT doc_id) AS n_docs
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
            CASE lang WHEN 'en' THEN '80' ELSE '1a' END
      GROUP BY lang ORDER BY lang"""),
      (s, dir) => Corpus.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> "80"), defaultThreshold = "1a")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), countDistinct("doc_id").as("n_docs"))
        .orderBy("lang")),

    // Deterministic epoch shuffle: seeded md5 permutation, identical on
    // both engines — the first 20 rows of epoch 7's order. Row order IS
    // the output, so the oracle recomputes the same seeded hash sort.
    Q("q_shuffle_epoch", Some("""
      SELECT doc_id, sort_key FROM (
        SELECT doc_id,
               md5('7:' || COALESCE('v' || CAST(doc_id AS VARCHAR), 'null')) AS sort_key
        FROM documents)
      ORDER BY sort_key, doc_id
      LIMIT 20"""),
      (s, dir) => Corpus.epochShuffle(
        t(s, dir, "documents").select("doc_id"), "doc_id", seed = 7L)
        .limit(20)),

    // Token-budget mixing: per source, docs in md5 order accumulate
    // n_chars and survive while the running total fits the budget —
    // DuckDB recomputes the identical window cumsum.
    Q("q_mix_token_budget", Some("""
      SELECT source, doc_id, cum_cost FROM (
        SELECT source, doc_id,
               CAST(sum(n_chars) OVER (
                 PARTITION BY source
                 ORDER BY md5(COALESCE('v' || CAST(doc_id AS VARCHAR), 'null')),
                          doc_id, n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        FROM documents WHERE n_chars IS NOT NULL)
      WHERE cum_cost <= 20000
      ORDER BY source, cum_cost"""),
      (s, dir) => Corpus.tokenBudgetMix(
        t(s, dir, "documents").select("source", "doc_id", "n_chars"),
        "source", "doc_id", "n_chars", budget = 20000L)
        .select("source", "doc_id", "cum_cost")
        .orderBy("source", "cum_cost")),

    // Temperature-based mixture resampling (XLM/mT5-style): each source's
    // quota of the 60k-char budget is proportional to sqrt(its char mass)
    // — integer-exact arithmetic on both engines (floor(sqrt) weights,
    // BIGINT div), then the same deterministic md5-order window fill as
    // q_mix_token_budget. DuckDB recomputes quotas and cumsum from scratch.
    Q("q_mix_temperature", Some("""
      WITH d AS (
        SELECT source, doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL
      ), m AS (
        SELECT source, CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT) AS w
        FROM d GROUP BY source
      ), q AS (
        SELECT source,
               (60000 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM m) AS quota
        FROM m
      ), c AS (
        SELECT source, doc_id,
               CAST(sum(n_chars) OVER (
                 PARTITION BY source
                 ORDER BY md5(COALESCE('v' || CAST(doc_id AS VARCHAR), 'null')),
                          doc_id, n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        FROM d)
      SELECT c.source AS source, doc_id, cum_cost, quota
      FROM c JOIN q ON c.source = q.source
      WHERE cum_cost <= quota
      ORDER BY c.source, cum_cost"""),
      (s, dir) => Corpus.temperatureMix(
        t(s, dir, "documents").select("source", "doc_id", "n_chars"),
        "source", "doc_id", "n_chars", totalBudget = 60000L, alpha = 0.5)
        .select("source", "doc_id", "cum_cost", "quota")
        .orderBy("source", "cum_cost")),

    // Benchmark decontamination: docs with id % 50 == 0 act as the "eval
    // set"; any other doc sharing a word-8-gram with them is dropped.
    // DuckDB recomputes the same 8-gram overlap from scratch.
    Q("q_decontaminate", Some("""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN list_distinct(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS g
        FROM tok
      ), bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 50 = 0
      ), contaminated AS (
        SELECT DISTINCT d.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 50 <> 0) d
        JOIN bench USING (gram)
      )
      SELECT doc_id, lang FROM documents
      WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Corpus.decontaminate(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      }),

    // The AUDIT companion: per benchmark doc, how many training docs
    // share an 8-gram with it and how many distinct grams leak — the
    // eval-integrity evidence next to q_decontaminate's drop. Zero-leak
    // bench docs report (0, 0).
    Q("q_contamination_report", Some("""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN list_distinct(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS g
        FROM tok
      ), hits AS (
        SELECT b.doc_id AS bench_doc_id,
               count(DISTINCT d.doc_id) AS n_contaminated_docs,
               count(DISTINCT gram) AS n_leaked_grams
        FROM (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 50 = 0) b
        JOIN (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 50 <> 0) d
          USING (gram)
        GROUP BY 1
      )
      SELECT doc_id AS bench_doc_id,
             COALESCE(h.n_contaminated_docs, 0) AS n_contaminated_docs,
             COALESCE(h.n_leaked_grams, 0) AS n_leaked_grams
      FROM documents LEFT JOIN hits h ON h.bench_doc_id = doc_id
      WHERE doc_id % 50 = 0
      ORDER BY bench_doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Corpus.contaminationReport(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0))
      }),

    // The bloom-prefiltered twin: IDENTICAL semantics to exact
    // decontamination (bloom has no false negatives; the exact verify join
    // removes its false positives), so the oracle is the same exact-gram
    // SQL — here with a % 10 benchmark split (6 contaminated docs at
    // sf0.01, so the removal path is actually exercised) distinct from
    // q_decontaminate's % 50 so the two queries can't mask each other's
    // regressions.
    Q("q_decontaminate_bloom", Some("""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN list_distinct(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS g
        FROM tok
      ), bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 10 = 0
      ), contaminated AS (
        SELECT DISTINCT d.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM g WHERE doc_id % 10 <> 0) d
        JOIN bench USING (gram)
      )
      SELECT doc_id, lang FROM documents
      WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Corpus.decontaminateBloom(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      }),

    // CCNet-style boilerplate removal over sentence segments. The corpus
    // has no naturally repeated sentences (checked), so a boilerplate
    // sentence is PLANTED identically on both engine sides (appended to
    // every doc); removal must strip exactly it and rebuild every original
    // text byte-for-byte — an end-to-end fidelity check of the
    // explode → df → anti-join → ordered-rebuild pipeline on all 500 docs.
    Q("q_boilerplate", Some("""
      WITH aug AS (
        SELECT doc_id, text || '. Subscribe to our newsletter today' AS text
        FROM documents
      ), l AS (
        SELECT doc_id, string_split(text, '. ') AS ls FROM aug
      ), seg AS (
        SELECT doc_id, unnest(ls) AS seg FROM l
      ), boiler AS (
        SELECT list(seg) AS bl FROM (
          SELECT seg FROM seg WHERE seg <> ''
          GROUP BY seg HAVING count(DISTINCT doc_id) >= 100)
      )
      SELECT doc_id,
             array_to_string(list_filter(ls, x -> NOT list_contains(bl, x)), '. ') AS text
      FROM l, boiler
      ORDER BY doc_id"""),
      (s, dir) => Corpus.removeBoilerplate(
          t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(". Subscribe to our newsletter today")).as("text")),
          minDocs = 100, separator = ". ")
        .orderBy("doc_id")),

    // Exact repeated-span removal (substring-granularity dedup): every
    // token position covered by a word-8-gram appearing in >= 2 distinct
    // docs is dropped and the doc rebuilt from survivors. At sf0.01 this
    // touches 47 docs / 2,430 token positions, so the removal path is
    // genuinely exercised; DuckDB recomputes positional grams, coverage,
    // and the ordered rebuild from scratch.
    Q("q_dedup_spans", Some("""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), g AS (
        SELECT doc_id, gs - 1 AS pos0, array_to_string(t[gs:gs+7], ' ') AS gram
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS gs FROM tok WHERE len(t) >= 8)
      ), dup AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
      ), cov AS (
        SELECT DISTINCT gd.doc_id, gd.pos0 + o.off AS p
        FROM (SELECT g.doc_id, g.pos0 FROM g JOIN dup USING (gram)) gd
        CROSS JOIN (SELECT unnest(range(0, 8)) AS off) o
      ), tokpos AS (
        SELECT doc_id, gs - 1 AS p, t[gs] AS tok
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS gs FROM tok)
      ), kept AS (
        SELECT tp.doc_id, tp.p, tp.tok
        FROM tokpos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.p
        WHERE c.doc_id IS NULL
      ), rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
        FROM kept GROUP BY doc_id
      )
      SELECT d.doc_id, COALESCE(r.cleaned, '') AS cleaned
      FROM documents d LEFT JOIN rebuilt r USING (doc_id)
      ORDER BY d.doc_id"""),
      (s, dir) => Corpus.removeRepeatedSpans(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // The operators COMPOSE: a realistic four-stage corpus pipeline in one
    // DAG — token-count filter (277 of 500 survive) → near-dup canonical
    // dedup (12 verified pairs → 266) → benchmark decontamination (%50
    // eval slice) → deterministic md5 split. Each stage is oracled in
    // isolation elsewhere; this row proves the chained DAG end-to-end
    // against DuckDB recomputing the whole pipeline from scratch.
    Q("q_corpus_pipeline", Some("""
      WITH RECURSIVE tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), kept AS (
        SELECT doc_id FROM tok WHERE len(t) >= 50
      ), sh AS (
        SELECT tok.doc_id, list_distinct(
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS sh
        FROM tok JOIN kept ON tok.doc_id = kept.doc_id
      ), cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.7
      ), edges AS (
        SELECT id_a AS s, id_b AS dd FROM cand UNION ALL SELECT id_b, id_a FROM cand
      ), closure(s, dd) AS (
        SELECT s, dd FROM edges
        UNION
        SELECT c.s, e.dd FROM closure c JOIN edges e ON c.dd = e.s
      ), canon AS (
        SELECT s AS doc_id, least(s, min(dd)) AS canonical_id FROM closure GROUP BY s
      ), deduped AS (
        SELECT k.doc_id FROM kept k LEFT JOIN canon c ON k.doc_id = c.doc_id
        WHERE c.doc_id IS NULL OR c.canonical_id = k.doc_id
      ), g8 AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN list_distinct(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS g
        FROM tok
      ), bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM g8 WHERE doc_id % 50 = 0
      ), contaminated AS (
        SELECT DISTINCT dg.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM g8 WHERE doc_id % 50 <> 0) dg
        JOIN bench USING (gram)
      )
      SELECT d.doc_id, d.lang,
             CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                  WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN deduped USING (doc_id)
      WHERE d.doc_id % 50 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY d.doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = docs.filter(
          graft.functions.TextFunctions.tokenCount(col("text")) >= 50)
        val groups = graft.operators.Dedup.nearDupGroups(
          graft.operators.Dedup.nearDuplicates(kept, threshold = 0.7))
        val deduped = kept.join(groups, Seq("doc_id"), "left")
          .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val train = deduped.filter(col("doc_id") % 50 =!= 0)
        Corpus.hashSplit(
            Corpus.decontaminate(train, bench).select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      }),

    // The CORPUS CARD — the per-source release-review table a data lead
    // runs before shipping a corpus snapshot: doc/token volume, near-dup
    // membership, benchmark contamination, PII incidence, and
    // quality/LM-fluency buckets, computed over the AT-REST corpus
    // (seeded through DedupIndex.writeCorpus, read back through the
    // versioned resolver). Every column is an integer count/sum over
    // per-doc values whose formulas are oracled in isolation elsewhere
    // (q_dedup_minhash, q_decontaminate, q_text_redact, q_text_quality,
    // q_text_lm_score), so both engines agree exactly; DuckDB recomputes
    // the whole card from raw documents.
    Q("q_corpus_card", Some(s"""
      WITH corpus AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id % 50 <> 0
      ), tokAll AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), tok AS (
        SELECT c.doc_id, tokAll.t FROM tokAll JOIN corpus c USING (doc_id)
      ), sh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS sh
        FROM tok
      ), cand AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.7
      ), dup AS (
        SELECT DISTINCT doc_id
        FROM (SELECT ia AS doc_id FROM cand UNION ALL SELECT ib AS doc_id FROM cand)
      ), g8 AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN list_distinct(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS g
        FROM tokAll
      ), benchg AS (
        SELECT DISTINCT unnest(g) AS gram FROM g8 WHERE doc_id % 50 = 0
      ), contaminated AS (
        SELECT DISTINCT dg.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM g8 WHERE doc_id % 50 <> 0) dg
        JOIN benchg USING (gram)
      ), qbase AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_char,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) AS n_alnum,
               CAST(len(list_intersect(
                   list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')),
                   [${graft.functions.TextFunctions.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")}])) AS DOUBLE) AS stop_hits
        FROM corpus
      ), q AS (
        SELECT doc_id,
               round(least(n_char / 500.0, 1.0) * 0.3
                   + (CASE WHEN n_tok > 0 AND n_alnum / n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.5 END) * 0.2
                   + (CASE WHEN n_char > 0 THEN n_alnum / n_char ELSE 0.0 END) * 0.3
                   + (CASE WHEN n_tok > 0 THEN stop_hits / least(n_tok, 10.0) ELSE 0.0 END) * 0.2,
                 6) AS quality
        FROM qbase
      ), norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS n
        FROM corpus
      ), tri AS (
        SELECT doc_id, substring(n, CAST(i AS INTEGER), 3) AS tri
        FROM (SELECT doc_id, n, unnest(range(1, greatest(len(n) - 1, 1))) AS i FROM norm)
      ), tc AS (
        SELECT tri, count(*) AS tc FROM tri WHERE doc_id % 3 = 0 GROUP BY tri
      ), bc AS (
        SELECT substring(tri, 1, 2) AS bi, count(*) AS bc
        FROM tri WHERE doc_id % 3 = 0 GROUP BY 1
      ), lm AS (
        SELECT t.doc_id,
               round(avg(ln((COALESCE(tc.tc, 0) + 0.5) / (COALESCE(bc.bc, 0) + 0.5 * 37))), 6) AS lm_score
        FROM tri t
        LEFT JOIN tc ON t.tri = tc.tri
        LEFT JOIN bc ON substring(t.tri, 1, 2) = bc.bi
        GROUP BY t.doc_id
      )
      SELECT c.source,
             count(*) AS n_docs,
             CAST(sum(len(tok.t)) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             CAST(sum(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             CAST(sum(CASE WHEN len(regexp_extract_all(c.text, '${Corpus.EmailRe}'))
                            + len(regexp_extract_all(c.text, '${Corpus.UrlRe}')) > 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
             CAST(sum(CASE WHEN q.quality < 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_low,
             CAST(sum(CASE WHEN lm.lm_score < -0.82 THEN 1 ELSE 0 END) AS BIGINT) AS n_lm_low
      FROM corpus c
      JOIN tok ON tok.doc_id = c.doc_id
      LEFT JOIN dup ON dup.doc_id = c.doc_id
      LEFT JOIN contaminated ct ON ct.doc_id = c.doc_id
      JOIN q ON q.doc_id = c.doc_id
      LEFT JOIN lm ON lm.doc_id = c.doc_id
      GROUP BY c.source
      ORDER BY c.source"""),
      (s, dir) => {
        val docsAll = t(s, dir, "documents")
        val bench = docsAll.filter(col("doc_id") % 50 === 0)
        val corp = QueryScratch.dir("corpus_card") + "/corpus.parquet"
        val atRest0 = graft.operators.DedupIndex.readCorpus(s, corp)
          .drop("ingest_batch", "id_part")
        // ONE corpus scan for the card's sweeps (near-dup signatures +
        // candidate fetch, contamination grams, LM reference + scoring,
        // PII/quality projection — previously ~6 independent scans of the
        // at-rest parquet): the slim (doc_id, source, text) frame is
        // persisted for the card's lifetime behind a size gate — at the
        // 100 TB design point caching the corpus text is not an option,
        // so past `graft.corpusCard.cacheBytes` (file bytes, default
        // 4 GiB) the card falls back to per-sweep scans (guide §2.3/§6).
        // The cache is built and freed INSIDE the query — nothing
        // survives the run.
        val gate = s.conf.get("graft.corpusCard.cacheBytes",
          (4L << 30).toString).toLong
        val cached = (try {
          val p = new org.apache.hadoop.fs.Path(
            graft.operators.AtRest.resolve(s, corp))
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
        } catch { case NonFatal(_) => Long.MaxValue }) <= gate
        val atRest = if (cached)
          atRest0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        else atRest0
        val pairs = graft.operators.Dedup.nearDuplicates(atRest, threshold = 0.7)
        val dupIds = pairs.select(col("id_a").as("doc_id"))
          .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct()
          .withColumn("is_dup", lit(1L))
        val contamIds = atRest.select("doc_id")
          .join(Corpus.decontaminate(atRest, bench), Seq("doc_id"), "left_anti")
          .withColumn("is_contam", lit(1L))
        val lm = graft.operators.LanguageModel.scoreDocs(atRest,
            atRest.filter(col("doc_id") % 3 === 0))
          .select(col("doc_id"), col("lm_score"))
        val (_, nEmail, nUrl) = Corpus.redact(col("text"))
        val card = atRest.select(col("doc_id"), col("source"),
            graft.functions.TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
            graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
            (nEmail + nUrl).as("pii"))
          .join(dupIds, Seq("doc_id"), "left")
          .join(contamIds, Seq("doc_id"), "left")
          .join(lm, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
            sum(coalesce(col("is_contam"), lit(0L))).as("n_contaminated"),
            sum(when(col("pii") > 0, 1L).otherwise(0L)).as("n_pii_docs"),
            sum(when(col("quality") < 0.6, 1L).otherwise(0L)).as("n_quality_low"),
            sum(when(col("lm_score") < -0.82, 1L).otherwise(0L)).as("n_lm_low"))
          .orderBy("source")
        // the card is one row per source: collect it, free the corpus
        // cache, and hand back a local frame — nothing stays persisted
        val rows = card.collect()
        if (cached) atRest.unpersist(blocking = false)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), card.schema)
      },
      // seed (untimed): the timed number is the CARD computation over the
      // at-rest corpus, not the one-off corpus layout write
      prepare = Some((s, dir) => {
        graft.operators.DedupIndex.writeCorpus(
          t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
            .select("doc_id", "source", "text"),
          QueryScratch.fresh("corpus_card") + "/corpus.parquet")
      })),

    // The INCREMENTAL corpus card — the same release-review counters,
    // read from the at-rest stats LEDGER that DedupIndex.ingestBatch
    // maintains batch-proportionally (the full card above re-sweeps the
    // whole corpus per run; at 100 TB the ledger read is O(batches ×
    // sources) tiny rows). The history here: the %3==1 slice seeds the
    // ledgered corpus, then TWO real ingest micro-batches (%3==2, then
    // %3==0) run the exactly-once loop — greedy in-batch drops and
    // cross-corpus probe drops land in the drop counters, admitted docs
    // in the volume/PII/quality counters. DuckDB recomputes the ENTIRE
    // ledger from the raw batch history: exact all-pairs Jaccard
    // replays both batches' greedy drop rules (all true pairs sit at
    // j >= 0.9, where banding recall ~0.9998 — same margin argument as
    // q_dedup_ingest), then re-derives every counter per source.
    Q("q_corpus_card_incremental", Some(s"""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS sh
        FROM tok
      ), pairs AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.7
      ), in1 AS (
        SELECT DISTINCT ib AS doc_id FROM pairs WHERE ia % 3 = 2 AND ib % 3 = 2
      ), cross1 AS (
        SELECT DISTINCT CASE WHEN ia % 3 = 2 THEN ia ELSE ib END AS doc_id
        FROM pairs WHERE (ia % 3 = 2 AND ib % 3 = 1) OR (ia % 3 = 1 AND ib % 3 = 2)
      ), admit1 AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 2
          AND doc_id NOT IN (SELECT doc_id FROM in1)
          AND doc_id NOT IN (SELECT doc_id FROM cross1)
      ), pre2 AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 1
        UNION ALL SELECT doc_id FROM admit1
      ), in2 AS (
        SELECT DISTINCT ib AS doc_id FROM pairs WHERE ia % 3 = 0 AND ib % 3 = 0
      ), cross2 AS (
        SELECT DISTINCT CASE WHEN ia % 3 = 0 THEN ia ELSE ib END AS doc_id
        FROM pairs
        WHERE (ia % 3 = 0) <> (ib % 3 = 0)
          AND (CASE WHEN ia % 3 = 0 THEN ib ELSE ia END) IN (SELECT doc_id FROM pre2)
      ), admit2 AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 0
          AND doc_id NOT IN (SELECT doc_id FROM in2)
          AND doc_id NOT IN (SELECT doc_id FROM cross2)
      ), corpus AS (
        SELECT d.doc_id, d.source, d.text FROM documents d
        WHERE d.doc_id % 3 = 1
           OR d.doc_id IN (SELECT doc_id FROM admit1)
           OR d.doc_id IN (SELECT doc_id FROM admit2)
      ), qbase AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_char,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) AS n_alnum,
               CAST(len(list_intersect(
                   list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')),
                   [${graft.functions.TextFunctions.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")}])) AS DOUBLE) AS stop_hits
        FROM corpus
      ), q AS (
        SELECT doc_id,
               round(least(n_char / 500.0, 1.0) * 0.3
                   + (CASE WHEN n_tok > 0 AND n_alnum / n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.5 END) * 0.2
                   + (CASE WHEN n_char > 0 THEN n_alnum / n_char ELSE 0.0 END) * 0.3
                   + (CASE WHEN n_tok > 0 THEN stop_hits / least(n_tok, 10.0) ELSE 0.0 END) * 0.2,
                 6) AS quality
        FROM qbase
      ), adm AS (
        SELECT c.source,
               count(*) AS n_docs,
               CAST(sum(len(tok.t)) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN len(regexp_extract_all(c.text, '${Corpus.EmailRe}'))
                              + len(regexp_extract_all(c.text, '${Corpus.UrlRe}')) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
               CAST(sum(CASE WHEN q.quality < 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_low
        FROM corpus c
        JOIN tok ON tok.doc_id = c.doc_id
        JOIN q ON q.doc_id = c.doc_id
        GROUP BY c.source
      ), dropb AS (
        SELECT d.source, count(*) AS n_dropped_batch
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM in1 UNION ALL SELECT doc_id FROM in2)
        GROUP BY d.source
      ), dropc AS (
        SELECT d.source, count(*) AS n_dropped_cross
        FROM documents d
        WHERE d.doc_id IN (
          SELECT doc_id FROM cross1 WHERE doc_id NOT IN (SELECT doc_id FROM in1)
          UNION ALL
          SELECT doc_id FROM cross2 WHERE doc_id NOT IN (SELECT doc_id FROM in2))
        GROUP BY d.source
      ), srcs AS (
        SELECT DISTINCT source FROM corpus
        UNION SELECT source FROM dropb
        UNION SELECT source FROM dropc
      )
      SELECT s.source,
             CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs,
             CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(a.n_pii_docs, 0) AS BIGINT) AS n_pii_docs,
             CAST(COALESCE(a.n_quality_low, 0) AS BIGINT) AS n_quality_low,
             CAST(COALESCE(b.n_dropped_batch, 0) AS BIGINT) AS n_dropped_batch,
             CAST(COALESCE(cx.n_dropped_cross, 0) AS BIGINT) AS n_dropped_cross,
             CAST(0 AS BIGINT) AS n_removed_recheck
      FROM srcs s
      LEFT JOIN adm a USING (source)
      LEFT JOIN dropb b USING (source)
      LEFT JOIN dropc cx USING (source)
      ORDER BY s.source"""),
      (s, dir) => {
        val corp = QueryScratch.dir("corpus_card_incr") + "/corpus.parquet"
        graft.operators.DedupIndex.ledgerCard(s, corp)
          .select("source", "n_docs", "n_tokens", "n_pii_docs", "n_quality_low",
            "n_dropped_batch", "n_dropped_cross", "n_removed_recheck")
      },
      // seed (untimed): the ledgered corpus bootstrap + two real ingest
      // micro-batches; the timed number is the LEDGER READ — the whole
      // point of maintaining the card incrementally
      prepare = Some((s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "source", "text")
        val root = QueryScratch.fresh("corpus_card_incr")
        val corp = root + "/corpus.parquet"
        val idx = root + "/index.parquet"
        val seed = d.filter(col("doc_id") % 3 === 1)
        graft.operators.DedupIndex.writeCorpus(seed, corp, ledgerBy = "source")
        graft.operators.DedupIndex.writeAtRest(seed, idx)
        graft.operators.DedupIndex.ingestBatch(
          d.filter(col("doc_id") % 3 === 2), idx, corp, batchId = 0L)
        graft.operators.DedupIndex.ingestBatch(
          d.filter(col("doc_id") % 3 === 0), idx, corp, batchId = 1L)
      })),

    // Per-group cap: top-3 largest docs per language.
    Q("q_topk_per_group", Some("""
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents
      QUALIFY rank <= 3
      ORDER BY lang, rank"""),
      (s, dir) => Corpus.topKPerGroup(
        t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
        "lang", Seq(col("n_chars").desc, col("doc_id")), 3)
        .select("lang", "doc_id", "n_chars", "rank")
        .orderBy("lang", "rank")),

    // The pretraining last mile, composed on REAL tokenizer output:
    // deterministic md5 train/val/test split → per-split contiguous
    // packing of documents into 2048-SUBWORD context windows, costs from
    // the corpus-trained BPE (the same pinned per-doc counts
    // q_text_bpe_encode verifies row-by-row). DuckDB recomputes the split
    // and the identical running-total window over the pinned counts.
    Q("q_pack_tokens", Some(s"""
      WITH bpe(bdoc_id, n_subwords) AS (SELECT * FROM (VALUES ${BpeOracle.countValues})),
      s AS (
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(bpe.n_subwords AS BIGINT) AS n
        FROM documents JOIN bpe ON bpe.bdoc_id = doc_id
      )
      SELECT doc_id, split,
             CAST(cum AS BIGINT) AS cum_cost,
             CAST(floor((cum - n) / 2048.0) AS BIGINT) AS pack_id
      FROM (SELECT doc_id, split, n,
                   sum(n) OVER (PARTITION BY split ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM s)
      ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Corpus.trainBpe(docs, numMerges = 20).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val counts = graft.operators.Corpus.bpeEncodeCounts(docs, merges)
        Corpus.packSequences(
            Corpus.hashSplit(docs.select("doc_id"), "doc_id").join(counts, "doc_id"),
            "split", "doc_id", "n_subwords", budget = 2048L)
          .select(col("doc_id"), col("split"),
            col("cum_cost").cast("bigint").as("cum_cost"),
            col("pack_id").cast("bigint").as("pack_id"))
          .orderBy("doc_id")
      }),

    // Contiguous fixed-budget packing of docs into 4096-char packs per lang.
    Q("q_pack_sequences", Some("""
      SELECT doc_id, lang,
             CAST(sum(n_chars) OVER w AS BIGINT) AS cum_chars,
             CAST(floor((sum(n_chars) OVER w - n_chars) / 4096.0) AS BIGINT) AS pack_id
      FROM documents
      WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY doc_id"""),
      (s, dir) => Corpus.packSequences(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        groupCol = "lang", orderCol = "doc_id", costCol = "n_chars",
        budget = 4096L)
        .select(col("doc_id"), col("lang"),
          col("cum_cost").as("cum_chars"), col("pack_id"))
        .orderBy("doc_id")),

    // PII redaction with an audit count. The corpus has no natural PII, so a
    // deterministic email+URL preamble is prepended per row — the regex
    // engines (both RE2-class, no lookaround used) then have real work whose
    // output the oracle hashes. DuckDB regexp_replace needs 'g' (replaces
    // first match only by default; Spark replaces all).
    Q("q_text_redact", Some(s"""
      WITH pii AS (
        SELECT doc_id,
               'contact user' || doc_id || '@' || source || '.com or https://' ||
               lang || '.example.com/doc/' || doc_id || ' re: ' || text AS raw
        FROM documents
      )
      SELECT doc_id,
             regexp_replace(regexp_replace(raw, '${Corpus.EmailRe}', '<EMAIL>', 'g'),
                            '${Corpus.UrlRe}', '<URL>', 'g') AS redacted,
             CAST(len(regexp_extract_all(raw, '${Corpus.EmailRe}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(raw, '${Corpus.UrlRe}')) AS BIGINT) AS n_urls
      FROM pii
      ORDER BY doc_id"""),
      (s, dir) => {
        val pii = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("contact user"), col("doc_id"), lit("@"), col("source"),
            lit(".com or https://"), col("lang"), lit(".example.com/doc/"),
            col("doc_id"), lit(" re: "), col("text")).as("raw"))
        val (red, nEmail, nUrl) = Corpus.redact(col("raw"))
        pii.select(col("doc_id"), red.as("redacted"),
          nEmail.cast("bigint").as("n_emails"), nUrl.cast("bigint").as("n_urls"))
          .orderBy("doc_id")
      }),

    // Boilerplate/spam signal: repeated-token ratio.
    Q("q_text_repetition", Some("""
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
      )
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1), 6)
               AS repetition_ratio
      FROM tok
      ORDER BY doc_id"""),
      (s, dir) => Corpus.repetitionStats(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // Edit-distance similarity (the character-level complement of the
    // n-gram Jaccard family): Levenshtein over adjacent docs' prefixes —
    // prefix-capped because the DP is O(len^2) per pair, which is also the
    // honest scale guidance (edit distance is a verification-stage metric
    // for candidate pairs, not a corpus-wide sweep).
    Q("q_text_levenshtein", Some("""
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS BIGINT)
               AS edit_distance
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      ORDER BY id_a"""),
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 40).as("p"))
        val a = d.select(col("doc_id").as("id_a"), col("p").as("p_a"))
        val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
          col("p").as("p_b"))
        a.join(b, "id_a")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("p_a"), col("p_b")).cast("bigint").as("edit_distance"))
          .orderBy("id_a")
      }),

    // Spark's BUILT-IN session_window aggregation, oracled by the same
    // declarative lag/cumsum definition as q_sessionize_batch — the three
    // sessionizers (built-in, declarative, streaming state) all agree.
    // Note session_window's gap is [start, last+gap): an event exactly
    // gap after the previous one starts a NEW session (>=), while the
    // declarative form uses > — the oracle mirrors >= here.
    Q("q_session_window", Some("""
      WITH e AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(CAST(ts AS TIMESTAMP)) -
                         epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), s AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM e
      )
      SELECT user_id,
             min(CAST(ts AS TIMESTAMP)) AS session_start,
             count(*) AS n_events, round(sum(value), 6) AS total_value
      FROM s
      GROUP BY user_id, session_idx
      ORDER BY user_id, session_start"""),
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")),

    // Batch sessionization: the oracle-checkable definition the STREAMING
    // sessionize (flatMapGroupsWithState) is proven equivalent to in
    // SessionizeSpec — a >30 min silence closes a user's session.
    Q("q_sessionize_batch", Some("""
      WITH e AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(CAST(ts AS TIMESTAMP)) -
                         epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), s AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM e
      )
      SELECT user_id, session_idx,
             min(CAST(ts AS TIMESTAMP)) AS session_start,
             max(CAST(ts AS TIMESTAMP)) AS session_end,
             count(*) AS n_events, round(sum(value), 6) AS total_value
      FROM s
      GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""),
      (s, dir) => graft.streaming.EventStream.sessionizeBatch(
        t(s, dir, "events"), gapMinutes = 30))
  )
}
