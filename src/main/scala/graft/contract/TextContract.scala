package graft
package contract

import graft.queries.TimeseriesQueries._
import graft.operators.{Redaction, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, count, lit, sum, when}

/** Text analysis and quality: tokenizers, language id, quality models,
  * vocabularies, BM25/RAG retrieval, decontamination, PII redaction and
  * text normalization. */
object TextContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // text analysis
    Q("q_token_count", (s, d) =>
      graft.operators.TextAnalysis.tokenCount(table(s, d, "documents")),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents ORDER BY doc_id"""),
    // BPE-ish regex token count (letter/digit/punct runs — the
    // pre-tokenizer segmentation, Java/RE2-portable pattern)
    // DuckDB single-quoted strings don't process backslash escapes, so
    // the Scala pattern string embeds verbatim
    Q("q_token_count_bpe", (s, d) =>
      graft.operators.TextAnalysis.tokenCountBpe(table(s, d, "documents")),
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeTokenPattern}')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    Q("q_lang_id", (s, d) =>
      graft.operators.TextAnalysis.langId(table(s, d, "documents")), langIdSql),
    Q("q_quality", (s, d) =>
      graft.operators.TextAnalysis.qualityScore(table(s, d, "documents")),
      s"$qualityCoreSql ORDER BY doc_id"),
    // Gopher-style repetition signals: map-only compiled kernel, no shuffle
    // exact replay of the repetition kernel: same double divisions over
    // integer counts; degenerate docs (no bigrams/trigrams) score 0
    Q("q_repetition", (s, d) =>
      graft.operators.TextAnalysis.repetitionSignals(table(s, d, "documents")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM t),
        |bg AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ]) AS g FROM t),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bga AS (SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM bgc GROUP BY 1),
        |tg AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ]) AS g FROM t),
        |tga AS (SELECT doc_id, count(DISTINCT g) AS nd3, count(*) AS n3 FROM tg GROUP BY 1)
        |SELECT b.doc_id,
        |       ROUND(CASE WHEN b.n > 0 THEN CAST(b.n - b.nd AS DOUBLE) / b.n ELSE 0.0 END, 6) AS dup_token_frac,
        |       ROUND(COALESCE(CAST(bga.top_c AS DOUBLE) / bga.tot, 0.0), 6) AS top_bigram_frac,
        |       ROUND(COALESCE(CAST(tga.n3 - tga.nd3 AS DOUBLE) / tga.n3, 0.0), 6) AS dup_trigram_frac
        |FROM base b LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // CCNet-style LM scoring: bigram LM from the clean slice (doc_id % 7
    // == 0, the same split decontamination treats as the benchmark),
    // per-token NLL + OOV-bigram fraction over the rest
    Q("q_lm_score", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.lmScore(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }, lmScoreOracleSql),
    // CCNet head/middle/tail thirds per language by LM score (low nll =
    // head, the slice CCNet keeps); exact ntile tier, approx-threshold
    // alternative documented for the 100 TB path
    // CCNet thirds: the lm replay + per-language ntile(3) on the SAME
    // 4-dp nll and doc_id tie-break, so boundary docs match exactly
    Q("q_ccnet", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.ccnetBuckets(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    },
      s"""WITH lm AS ($lmScoreOracleSql),
        |lab AS (SELECT l.doc_id, l.nll, d.lang
        |        FROM lm l JOIN documents d USING (doc_id)),
        |t AS (SELECT doc_id, lang, nll,
        |             ntile(3) OVER (PARTITION BY lang ORDER BY nll ASC, doc_id ASC) AS tert
        |      FROM lab)
        |SELECT doc_id, lang, nll,
        |       CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM t ORDER BY doc_id""".stripMargin),
    // the scale tier: per-language approx-percentile thresholds (exact
    // rank elements while n ≤ accuracy) + map-only assignment — no
    // per-language corpus sort
    // approx tier: while n ≤ accuracy both engines pick the exact
    // rank-ceil(p·n) element (quantile_disc ≡ approx_percentile's exact
    // path — the q_outliers_approx precedent extended to p = 1/3, 2/3),
    // then the same value-threshold CASE
    Q("q_ccnet_approx", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.ccnetBucketsApprox(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    },
      s"""WITH lm AS ($lmScoreOracleSql),
        |lab AS (SELECT l.doc_id, l.nll, d.lang
        |        FROM lm l JOIN documents d USING (doc_id)),
        |th AS (SELECT lang, quantile_disc(nll, ${1.0 / 3}) AS t1,
        |              quantile_disc(nll, ${2.0 / 3}) AS t2
        |       FROM lab GROUP BY lang)
        |SELECT lab.doc_id, lab.lang, lab.nll,
        |       CASE WHEN nll <= t1 THEN 'head'
        |            WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lab JOIN th USING (lang) ORDER BY doc_id""".stripMargin),
    Q("q_fingerprint", (s, d) =>
      graft.operators.TextAnalysis.fingerprint(table(s, d, "documents")),
      """SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id"""),
    // the data-card summary: per-source volume/token/lang/dup stats in
    // one hash-agg pass, every column engine-exact
    Q("q_corpus_report", (s, d) =>
      graft.operators.TextAnalysis.corpusReport(table(s, d, "documents")),
      """WITH t AS (SELECT source, lang, md5(text) AS h,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |           FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |       ROUND(AVG(ntok), 6) AS mean_tokens,
        |       quantile_disc(ntok, 0.5) AS p50_tokens,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups
        |FROM t GROUP BY source ORDER BY source""".stripMargin),
    // the Gopher rule battery: every pass/fail boundary an exact integer
    // cross-multiply — no float ratio can drift the filter
    // the same exact integer comparisons over the same token lists
    qGopher,
    // the rule battery through SQL, over the registered documents view
    Q("q_sql_gopher", (s, d) =>
      sqlFace(s, SqlTableFunctions.DocumentsRelation -> table(s, d, "documents"))(
        "SELECT * FROM graft_gopher(50, 100000)"), qGopher.oracle),
    // FIM/span-corruption examples: md5-deterministic selection + span
    // geometry, map-only — reproducible across runs, partitionings and
    // engines
    // the same md5 selection + integer span arithmetic + three slices
    Q("q_fim", (s, d) =>
      graft.operators.Packing.fimExamples(table(s, d, "documents")),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, len(w) AS n,
         |             ${md5BucketSql("fim", "doc_id")} AS b0,
         |             ${md5BucketSql("fimstart", "doc_id")} AS b1,
         |             ${md5BucketSql("fimlen", "doc_id")} AS b2
         |      FROM t),
         |e AS (SELECT doc_id, w, n, n // 3 AS third, b1, b2
         |      FROM p WHERE n >= 12 AND b0 < 5000),
         |s AS (SELECT doc_id, w, n,
         |             third + (b1 % GREATEST(third, 1)) + 1 AS a,
         |             (b2 % GREATEST(third, 1)) + 1 AS l
         |      FROM e)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       array_to_string(w[1:a-1], ' ') AS prefix,
         |       array_to_string(w[a:a+l-1], ' ') AS middle,
         |       array_to_string(w[a+l:n], ' ') AS suffix
         |FROM s ORDER BY doc_id""".stripMargin),
    // n-gram novelty: fraction of a doc's trigram shingles first seen in
    // that doc (min doc_id wins) — the memorization/near-copy diagnostic;
    // no shingle→doc join back, the doc's novel count is how many
    // shingles it wins
    // novelty: a doc's novel-shingle count = the shingles it WINS (is the
    // min doc_id of) — replayed with the same two-agg decomposition
    Q("q_novelty", (s, d) =>
      graft.operators.TextAnalysis.ngramNovelty(table(s, d, "documents")),
      s"""WITH sh AS ($shingleCteSql),
         |firsts AS (SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY 1),
         |nnew AS (SELECT doc_id, COUNT(*) AS n_new FROM firsts GROUP BY 1),
         |perdoc AS (SELECT doc_id, CAST(MAX(nsh) AS BIGINT) AS n_shingles FROM sh GROUP BY 1)
         |SELECT p.doc_id, p.n_shingles,
         |       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
         |       ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / p.n_shingles, 6) AS novelty
         |FROM perdoc p LEFT JOIN nnew n USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin),
    // PMI collocations: top-30 adjacent-bigram associations (Church &
    // Hanks), min count 5; surfaces multi-word expressions
    // PMI = ln(cab·U²/(N·ca·cb)), denominator cast double pre-multiply
    Q("q_pmi", (s, d) =>
      graft.operators.TextAnalysis.pmiCollocations(table(s, d, "documents")),
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM w),
        |uc AS (SELECT t, COUNT(*) AS u FROM uni GROUP BY t),
        |ut AS (SELECT SUM(u) AS tu FROM uc),
        |bi AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |       FROM w WHERE len(w) >= 2),
        |bc AS (SELECT w1, w2, COUNT(*) AS cab FROM bi GROUP BY w1, w2),
        |bt AS (SELECT SUM(cab) AS tb FROM bc)
        |SELECT w1, w2, CAST(cab AS BIGINT) AS cab,
        |       ROUND(ln(CAST(cab AS DOUBLE) * ut.tu * ut.tu /
        |         (CAST(bt.tb AS DOUBLE) * ua.u * ub.u)), 4) AS pmi
        |FROM bc JOIN uc ua ON bc.w1 = ua.t JOIN uc ub ON bc.w2 = ub.t
        |CROSS JOIN ut CROSS JOIN bt
        |WHERE cab >= 5
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30""".stripMargin),
    // incremental vocabulary index: build on the even half, append the
    // odd half, serve top-30 by re-aggregation — merge = SUM, so the
    // served vocab equals the full-corpus q_vocab oracle exactly
    // the incremental index's served vocab must equal the full-corpus
    // computation (merge = SUM over doc-disjoint slices)
    Q("q_vocab_idx", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.writeVocabIndex(
        docs.filter(col("doc_id") % 2 === 0), "graft_vocab_index")
      graft.operators.TextAnalysis.appendToVocabIndex(
        docs.filter(col("doc_id") % 2 === 1), "graft_vocab_index")
      graft.operators.TextAnalysis.vocabFromIndex(s, "graft_vocab_index", k = 30)
    }, vocabTop30OracleSql),
    // feature-hashed bag-of-words embeddings (signed hashing trick),
    // exploded to scalar (doc, dim, value) rows for the exact-float gate
    // signed feature hashing: bucket and sign are independent salted-md5
    // draws; squared norms are integer-valued doubles so the L2 norm is
    // exact regardless of summation order
    Q("q_hash_embed", (s, d) => {
      import org.apache.spark.sql.functions.posexplode
      graft.operators.TextAnalysis.hashEmbed(table(s, d, "documents"), dim = 32)
        .select(col("doc_id"), posexplode(col("embedding")))
        .toDF("doc_id", "j", "v")
        .orderBy("doc_id", "j")
    },
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id)
         |SELECT d.doc_id, CAST(d.j AS INT) AS j,
         |       CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT) AS v
         |FROM dense d JOIN nrm n USING (doc_id)
         |ORDER BY doc_id, j""".stripMargin),
    // tf-idf-weighted hashed embeddings: idf quantized to integer
    // milli-nats so every bucket sum and squared norm stays exact —
    // the full component matrix gated bit-for-bit like q_hash_embed
    // idf = ROUND(ln((N+1)/(df+1))·1000) BIGINT — then the q_hash_embed
    // replay with weighted signs
    Q("q_tfidf_embed", (s, d) => {
      import org.apache.spark.sql.functions.posexplode
      graft.operators.TextAnalysis.tfidfHashEmbed(table(s, d, "documents"), dim = 32)
        .select(col("doc_id"), posexplode(col("embedding")))
        .toDF("doc_id", "j", "v")
        .orderBy("doc_id", "j")
    },
      s"""WITH tokraw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |dfc AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tokraw GROUP BY t),
         |wts AS (SELECT t, CAST(ROUND(ln((nn.n + 1.0) / (df + 1.0)) * 1000, 0) AS BIGINT) AS idfm
         |        FROM dfc CROSS JOIN nn),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "tokraw.t")} % 32 AS INT) AS b,
         |         (CASE WHEN ${md5BucketSql("hsign", "tokraw.t")} % 2 = 1 THEN 1 ELSE -1 END)
         |           * w.idfm AS s
         |  FROM tokraw JOIN wts w ON tokraw.t = w.t),
         |sp AS (SELECT doc_id, b, CAST(SUM(s) AS BIGINT) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id)
         |SELECT d.doc_id, CAST(d.j AS INT) AS j,
         |       CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT) AS v
         |FROM dense d JOIN nrm n USING (doc_id)
         |ORDER BY doc_id, j""".stripMargin),
    // lexical-semantic search: the hashed embeddings feed the standard
    // ANN top-k unchanged (doc 0's most hash-similar documents)
    // hashed-embedding ANN: rebuild the unit vectors as lists (ORDER BY
    // dim), drop zero-norm docs (the withNorm contract), brute cosine
    Q("q_hash_embed_topk", (s, d) =>
      graft.operators.Ann.topK(
        graft.operators.TextAnalysis.hashEmbed(table(s, d, "documents"), dim = 32)
          .withColumnRenamed("doc_id", "vec_id"),
        queryId = 0, k = 15),
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = 0),
         |scored AS (
         |  SELECT e.doc_id AS vec_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM vec e, q)
         |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 15""".stripMargin),
    // the RAG serving capstone: overlapping chunks → hashed chunk
    // embeddings → free-text query top-10 — three gated operators under
    // one end-to-end oracle
    Q("q_rag_retrieve", (s, d) =>
      graft.operators.Rag.retrieveChunks(table(s, d, "documents"),
        "table scan hash join window agg", k = 10),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, GREATEST(1, (len(w) - 8 + 55) // 56) AS nchunks FROM t),
         |c AS (SELECT doc_id, w, unnest(range(0, nchunks)) AS chunk_id FROM p),
         |chdocs AS (SELECT doc_id * 100000 + chunk_id AS doc_id,
         |                  array_to_string(w[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS text
         |           FROM c),
         |corpus AS (SELECT * FROM chdocs
         |           UNION ALL SELECT CAST(-1 AS BIGINT), 'table scan hash join window agg'),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM corpus) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = -1),
         |scored AS (
         |  SELECT e.doc_id AS vec_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM vec e, q WHERE e.doc_id <> -1)
         |SELECT vec_id // 100000 AS doc_id, vec_id % 100000 AS chunk_id,
         |       ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin),
    // the DOC-level retrieval face: chunk vectors mean-pooled per doc,
    // query scored against one vector per document — the capstone plus
    // the pooling operator under one oracle
    // chunk replay (q_chunk's integer arithmetic) keyed doc_id*1e5+chunk,
    // then the hash-embed + cosine top-k replay over the chunk relation
    // plus the literal query embedded as key -1
    Q("q_rag_retrieve_docs", (s, d) =>
      graft.operators.Rag.retrieveDocs(table(s, d, "documents"),
        "table scan hash join window agg", k = 10),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, GREATEST(1, (len(w) - 8 + 55) // 56) AS nchunks FROM t),
         |c AS (SELECT doc_id, w, unnest(range(0, nchunks)) AS chunk_id FROM p),
         |chdocs AS (SELECT doc_id * 100000 + chunk_id AS doc_id,
         |                  array_to_string(w[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS text
         |           FROM c),
         |corpus AS (SELECT * FROM chdocs
         |           UNION ALL SELECT CAST(-1 AS BIGINT), 'table scan hash join window agg'),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM corpus) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = -1),
         |pv AS (SELECT v.doc_id // 100000 AS gid, j.j AS j,
         |              CAST(v.p[j.j + 1] AS DOUBLE) AS x
         |       FROM vec v, (SELECT unnest(range(0, 32)) AS j) j
         |       WHERE v.doc_id <> -1),
         |pool AS (SELECT gid, j, CAST(ROUND(AVG(x), 6) AS FLOAT) AS x
         |         FROM pv GROUP BY 1, 2),
         |pooled AS (SELECT gid, list(x ORDER BY j) AS p FROM pool GROUP BY gid),
         |scored AS (
         |  SELECT e.gid AS doc_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM pooled e, q
         |  WHERE list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE))) > 0)
         |SELECT doc_id, ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, doc_id ASC LIMIT 10""".stripMargin),
    // curation v2 — the model-era capstone: NB quality gate (score > 0)
    // → UniMax language rebalancing over the survivors (60% budget, 1
    // epoch) → padding-efficient bucketed batches, each doc annotated
    // with its domain-match score; the oracle chains all three replays
    // gate → rebalance → batch, all three replays chained
    qCurateV2,
    // the SQL face runs the identical composition (same 60% budget)
    Q("q_sql_curate_v2", (s, d) =>
      sqlFace(s, SqlTableFunctions.DocumentsRelation -> table(s, d, "documents"))(
        "SELECT * FROM graft_curate_v2('en', 60, 8, 16)"), qCurateV2.oracle),
    // JSONL corpus-drop round trip with corrupt routing: documents write
    // themselves out as JSONL, two malformed lines are planted, the
    // routed read recovers exactly the documents table (oracle = the
    // table itself — corruption must be invisible to the good side)
    // the JSONL round trip must reproduce the table exactly; the two
    // planted corrupt lines are asserted routed inside the query
    Q("q_ingest_jsonl", (s, d) => {
      val docs = table(s, d, "documents").select("doc_id", "text", "lang", "source")
      withTempDir("graft_ingest_jsonl") { tmp =>
        docs.write.json(s"$tmp/drop")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/drop/part-corrupt.json"),
          "{this is not json\ngarbage line\n".getBytes("UTF-8"))
        val (good, bad) = graft.sources.CorpusIngest.readJsonlRouted(s, s"$tmp/drop")
        require(bad.count() == 2, "both planted corrupt lines must route to dead letters")
        good.select("doc_id", "lang").orderBy("doc_id")
      }
    },
      "SELECT doc_id, lang FROM documents ORDER BY doc_id"),
    // streaming corpus stats: docs stream through in micro-batches, each
    // appending mergeable vocab partials to the index; compaction folds
    // the per-batch files; served top-30 must equal the one-shot corpus
    // vocabulary (shares the q_vocab_idx oracle)
    // ... and so must the streaming-maintained index after compaction
    Q("q_vocab_stream", (s, d) => {
      val docs = table(s, d, "documents")
      // seed an EMPTY index (schema only) so every count arrives via the
      // streaming appends
      BenchPhases.timed("q_vocab_stream", "build")(
        graft.operators.TextAnalysis.writeVocabIndex(
          docs.filter(lit(false)), "graft_vocab_stream_idx"))
      withTempDir("graft_vocab_stream") { tmp =>
        BenchPhases.timed("q_vocab_stream", "stage")(
          docs.select("doc_id", "text").repartition(6)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_vocab_stream")(
          graft.streaming.CorpusStatsStream.start(s, s"$tmp/input",
              "graft_vocab_stream_idx", s"$tmp/cp", maxFilesPerTrigger = Some(1)))
        BenchPhases.timed("q_vocab_stream", "compact")(
          graft.operators.TextAnalysis.compactVocabIndex(s, "graft_vocab_stream_idx"))
        graft.operators.TextAnalysis.vocabFromIndex(s, "graft_vocab_stream_idx", k = 30)
      }
    }, vocabTop30OracleSql),
    // fastText-shaped Naive-Bayes quality classifier: train "looks
    // English" on the 80% split (doc_id % 5 <> 0), score the held-out
    // 20% — the full smoothed log-likelihood arithmetic replays in SQL
    // bigram-LM replay: same add-one smoothing, same ln/avg op shape;
    // nll round-4 (ln portability + sum order, see TextAnalysis.lmScore)
    // smoothed NB log-likelihood ratio, trained on doc_id % 5 <> 0 with
    // pos = (lang = 'en'); OOV tokens fall through the LEFT JOIN as c=0
    qQualityClassifier,
    Q("q_sql_quality", (s, d) =>
      sqlFace(s, SqlTableFunctions.DocumentsRelation -> table(s, d, "documents"))(
        "SELECT * FROM graft_quality_classifier('en', 5)"), qQualityClassifier.oracle),
    // the persisted-model serving path: train once into a catalog table
    // (token weights + prior/w0 scalars in TBLPROPERTIES), score the
    // held-out slice FROM THE TABLE — bit-identical to training-time
    // scoring, shares the q_quality_classifier oracle
    // persisted-model serving computes the same numbers
    Q("q_quality_model_idx", (s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_quality_model_idx", "build")(
        graft.operators.QualityModels.writeNbModel(
          docs.filter(col("doc_id") % 5 =!= 0), col("lang") === "en",
          "graft_nb_model"))
      graft.operators.QualityModels.scoreAgainstModel(
        docs.filter(col("doc_id") % 5 === 0), "graft_nb_model")
    }, nbQualityOracleSql),
    // the streaming quality gate: the eval slice streams through in
    // micro-batches, each scored against the persisted model; output =
    // accepted doc_ids (score > 0), oracle = the batch replay filtered
    // streaming gate survivors = the batch replay's score > 0 slice
    Q("q_quality_stream", (s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_quality_stream", "build")(
        graft.operators.QualityModels.writeNbModel(
          docs.filter(col("doc_id") % 5 =!= 0), col("lang") === "en",
          "graft_nb_model_stream"))
      withTempDir("graft_quality_stream") { tmp =>
        BenchPhases.timed("q_quality_stream", "stage")(
          docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text", "lang")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_quality_stream")(
          graft.streaming.QualityStream.start(s, s"$tmp/input",
              "graft_nb_model_stream", s"$tmp/out", s"$tmp/cp",
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    },
      s"""SELECT doc_id FROM ($nbQualityOracleSql) WHERE score > 0 ORDER BY doc_id"""),
    // DSIR importance resampling: hashed-unigram importance weights of
    // the lang='en' target vs the raw corpus, top-100 selection
    // DSIR: per-bucket add-one log ratios of target (lang='en') vs raw
    // token distributions over the md5 bucket space, doc weight = Σ over
    // tokens with multiplicity, deterministic top-100
    Q("q_dsir", (s, d) =>
      graft.operators.QualityModels.dsirWeights(
        table(s, d, "documents"), col("lang") === "en", topN = 100),
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
         |                    ${md5BucketSql("dsir", "t")} AS b
         |             FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |                   FROM documents)),
         |hist AS (SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |                COUNT(*) AS cr
         |         FROM tok GROUP BY b),
         |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM hist),
         |lam AS (SELECT b,
         |          ln(CAST(ct + 1 AS DOUBLE) / (tot.nt + ${graft.operators.Sampling.BucketCount})) -
         |          ln(CAST(cr + 1 AS DOUBLE) / (tot.nr + ${graft.operators.Sampling.BucketCount})) AS lam
         |        FROM hist CROSS JOIN tot),
         |byDoc AS (SELECT doc_id, b, COUNT(*) AS m FROM tok GROUP BY doc_id, b)
         |SELECT d.doc_id, ROUND(SUM(d.m * lam.lam), 4) AS weight
         |FROM byDoc d JOIN lam USING (b)
         |GROUP BY d.doc_id
         |ORDER BY weight DESC, doc_id ASC LIMIT 100""".stripMargin),
    // UniMax budget allocation (epoch-capped water-filling over
    // languages): budget = 84% of the corpus, 1 epoch max per language —
    // the four small languages are fully funded, en is downsampled to the
    // remaining budget; allocation is pure window algebra over the
    // 5-row strata frame, selection is the bucket-histogram cap engine
    // UniMax water-filling replayed as the same window algebra; the
    // selection replay is the stratum-wide row_number over (bucket, id)
    Q("q_sample_unimax", (s, d) => {
      val docs = table(s, d, "documents")
      val budget = docs.count() * 84 / 100
      graft.operators.Sampling.unimaxSample(docs, budget, epochs = 1.0)
        .select("doc_id", "lang").orderBy("doc_id")
    },
      s"""WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         |bud AS (SELECT 84 * COUNT(*) // 100 AS budget FROM documents),
         |caps AS (SELECT lang, CAST(FLOOR(c * 1.0) AS BIGINT) AS capl FROM counts),
         |rk AS (SELECT lang, capl,
         |        ROW_NUMBER() OVER (ORDER BY capl, lang) AS k,
         |        COALESCE(SUM(capl) OVER (ORDER BY capl, lang
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
         |       FROM caps),
         |lt AS (SELECT COUNT(*) AS l FROM counts),
         |g AS (SELECT rk.lang, rk.capl, rk.k, rk.s, lt.l, bud.budget,
         |             (rk.capl * (lt.l - rk.k + 1) + rk.s <= bud.budget) AS fl
         |      FROM rk CROSS JOIN lt CROSS JOIN bud),
         |ks AS (SELECT COALESCE(MAX(CASE WHEN fl THEN k END), 0) AS kstar,
         |              COALESCE(SUM(CASE WHEN fl THEN capl END), 0) AS sk,
         |              MAX(l) AS l, MAX(budget) AS budget FROM g),
         |quotas AS (SELECT g.lang,
         |            CASE WHEN g.k <= ks.kstar THEN g.capl
         |                 ELSE (ks.budget - ks.sk) // GREATEST(ks.l - ks.kstar, 1) END AS quota
         |           FROM g CROSS JOIN ks),
         |wb AS (SELECT doc_id, lang, ${md5BucketSql("unimax", "doc_id")} AS b FROM documents),
         |sel AS (SELECT doc_id, lang,
         |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM wb)
         |SELECT s.doc_id, s.lang FROM sel s JOIN quotas q USING (lang)
         |WHERE s.rn <= q.quota ORDER BY doc_id""".stripMargin),
    // distributed BPE training: 6 learned merges over the corpus word
    // histogram; the oracle replays every iteration (pair count → argmax
    // → greedy merge) as an unrolled CTE chain over the same strings
    // the 6 BPE merge iterations unrolled as CTE stages
    Q("q_bpe_train", (s, d) =>
      graft.operators.BpeTokenizer.train(table(s, d, "documents"), k = 6),
      bpeOracleSql(k = 6, mode = "train")),
    // encode with the just-learned tokenizer: per-doc post-merge token
    // counts, merge table applied as a broadcast-local replace chain
    Q("q_bpe_encode", (s, d) => {
      val merges = BenchPhases.timed("q_bpe_encode", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.encodeTokenCounts(
        table(s, d, "documents"), merges)
    }, bpeOracleSql(k = 6, mode = "encode")),
    // the encode -> decode round trip as a corpus IDENTITY gate (the
    // strongest oracle form): merges never move bytes across symbol
    // boundaries, so bracket-stripping the full token stream must
    // reproduce every document byte for byte — any encoder bug
    // (symbol splitting, word reordering, lost whitespace) breaks the
    // hash
    // decode(encode(x)) == x — the oracle is the corpus itself
    Q("q_bpe_roundtrip", (s, d) => {
      val merges = BenchPhases.timed("q_bpe_roundtrip", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.encodeTokens(
          table(s, d, "documents"), merges)
        .select(col("doc_id"),
          graft.operators.BpeTokenizer.decode(col("encoded")).as("text"))
        .orderBy("doc_id")
    },
      "SELECT doc_id, text FROM documents ORDER BY doc_id"),
    // tokenizer fertility per language: BPE tokens per whitespace word —
    // the "does the learned vocab fit this language" diagnostic
    Q("q_bpe_fertility", (s, d) => {
      val merges = BenchPhases.timed("q_bpe_fertility", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.fertilityByStratum(
        table(s, d, "documents"), merges)
    }, bpeOracleSql(k = 6, mode = "fertility")),
    // winnowing fingerprints (rolling-hash local fingerprints, MOSS):
    // map-only; oracle recomputes each k-gram hash as the direct modular
    // polynomial and replays the rightmost-min window selection
    Q("q_winnow", (s, d) =>
      graft.operators.TextAnalysis.winnowFingerprints(table(s, d, "documents")), winnowOracleSql),
    // MOSS-style copied-span report: doc pairs sharing >= 10 winnowed
    // fingerprint values after dropping boilerplate fps present in > 20
    // docs (the df² stop-shingle argument; unpruned, 8-char grams of a
    // same-vocabulary corpus connect ~85% of ALL pairs at minShared=3 —
    // measured, not hypothetical). The oracle replays the cutoff.
    Q("q_winnow_pairs", (s, d) =>
      graft.operators.TextAnalysis.sharedSpanPairs(table(s, d, "documents"),
        minShared = 10, maxDocsPerFp = Some(20)),
      s"""WITH w AS ($winnowOracleSql),
         |df AS (SELECT DISTINCT doc_id, fp FROM w),
         |hot AS (SELECT fp FROM df GROUP BY fp HAVING count(*) > 20),
         |pr AS (SELECT * FROM df WHERE fp NOT IN (SELECT fp FROM hot))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 10
         |ORDER BY doc_a, doc_b""".stripMargin),
    // vocabulary build: top-K tokens by total frequency + doc frequency
    Q("q_vocab", (s, d) =>
      graft.operators.TextAnalysis.vocabulary(table(s, d, "documents"), k = 100),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM t GROUP BY token ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin),
    // heavy hitters (freq_agg/topn_agg parity): Misra-Gries candidates
    // (k=30 < the 31-token vocab, so the decrement path actually runs)
    // + exact confirmation — output is EXACTLY the tokens at ≥3.35%
    // frequency, independent of partitioning, at any SF (3.35% > 1/31)
    // the sketch only bounds memory — the OUTPUT is exact, so the oracle
    // is a plain frequency-threshold count (same CEIL of the same IEEE
    // product)
    Q("q_heavy_hitters", (s, d) =>
      graft.operators.TextAnalysis.heavyHitters(table(s, d, "documents"),
        k = 30, minFreq = 0.0335),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS cnt
        |FROM t GROUP BY token
        |HAVING count(*) >= CEIL(0.0335 * (SELECT count(*) FROM t))
        |ORDER BY cnt DESC, token ASC""".stripMargin),
    // tokenizer-fit: per-doc OOV counts against the corpus's own top-30
    // vocabulary — exact integers, vocabulary broadcast
    // coverage vs the deterministic top-30 vocab (q_vocab's own ranking)
    Q("q_vocab_coverage", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.vocabCoverage(docs,
        graft.operators.TextAnalysis.vocabulary(docs, k = 30).select("token"))
    },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS tf FROM t GROUP BY token
        |  ORDER BY tf DESC, token ASC LIMIT 30))
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN t.token IN (SELECT token FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // BM25 lexical top-k retrieval (the lexical face of similarity
    // search): Okapi scoring with binary-exact constants, full SQL
    // replay including the Robertson idf
    // full Okapi replay: N/avgdl from exact integers, per-term Robertson
    // idf (ln absorbed by round-4), identical op order and binary-exact
    // constants (2.25, 1.25, 0.25, 0.75) on both sides
    Q("q_bm25", (s, d) =>
      graft.operators.TextAnalysis.bm25TopK(table(s, d, "documents"),
        "spark window merge vector", k = 15),
      """WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM lens),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
        |       FROM tok WHERE t IN ('spark', 'window', 'merge', 'vector')
        |       GROUP BY doc_id, t),
        |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |idf AS (SELECT q.t,
        |               ln(1 + ((SELECT n FROM st) - COALESCE(d.df, 0) + 0.5)
        |                      / (COALESCE(d.df, 0) + 0.5)) AS idf
        |        FROM (SELECT unnest(['spark', 'window', 'merge', 'vector']) AS t) q
        |        LEFT JOIN dfs d USING (t)),
        |sc AS (SELECT tf.doc_id,
        |              SUM(idf.idf * (tf.tf * 2.25)
        |                  / (tf.tf + 1.25 * (0.25 + 0.75 * tf.dl / (SELECT avgdl FROM st)))) AS score
        |       FROM tf JOIN idf USING (t)
        |       GROUP BY tf.doc_id)
        |SELECT doc_id, ROUND(score, 4) AS score FROM sc
        |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin),
    // batched BM25: a query TABLE scored in one job, per-query top-10
    // via a query_id-partitioned rank — the serving-at-scale shape
    // the batch variant: same Okapi replay fanned out over a VALUES
    // query table, per-query rank on the ROUNDED score (deterministic
    // rank-k boundary cross-engine)
    Q("q_bm25_batch", (s, d) => {
      import s.implicits._
      val qs = Seq((0L, "spark window"), (1L, "merge vector slow"),
        (2L, "customer filter the")).toDF("query_id", "query")
      graft.operators.TextAnalysis.bm25TopKBatch(
        table(s, d, "documents"), qs, k = 10)
    },
      """WITH qs AS (SELECT * FROM (VALUES (0, 'spark window'),
        |                                  (1, 'merge vector slow'),
        |                                  (2, 'customer filter the')) AS q(query_id, query)),
        |qt AS (SELECT DISTINCT query_id, unnest(string_split(query, ' ')) AS t FROM qs),
        |lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM lens),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
        |       FROM tok WHERE t IN (SELECT t FROM qt)
        |       GROUP BY doc_id, t),
        |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |idf AS (SELECT ut.t,
        |               ln(1 + ((SELECT n FROM st) - COALESCE(d.df, 0) + 0.5)
        |                      / (COALESCE(d.df, 0) + 0.5)) AS idf
        |        FROM (SELECT DISTINCT t FROM qt) ut
        |        LEFT JOIN dfs d USING (t)),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |              ROUND(SUM(idf.idf * (tf.tf * 2.25)
        |                  / (tf.tf + 1.25 * (0.25 + 0.75 * tf.dl / (SELECT avgdl FROM st)))), 4) AS score
        |       FROM tf JOIN idf USING (t) JOIN qt USING (t)
        |       GROUP BY qt.query_id, tf.doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                    ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score FROM rk WHERE rn <= 10
        |ORDER BY query_id, score DESC, doc_id ASC""".stripMargin),
    // per-source token-length distribution (exact percentiles)
    Q("q_length_stats", (s, d) =>
      graft.operators.TextAnalysis.lengthStats(table(s, d, "documents")),
      """SELECT source,
        |       count(*) AS n_docs,
        |       ROUND(AVG(len(string_split(text, ' '))), 6) AS mean_tokens,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.25), 6) AS p25,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.9), 6) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // the mergeable-summary tier (hot-stratum escape hatch): quantiles
    // are group elements at rank ceil(p*n), replayed as quantile_disc
    // discrete-rank replay of the approx tier (deterministic for
    // n <= accuracy — same rule q_outliers_approx pins for the median)
    Q("q_length_stats_approx", (s, d) =>
      graft.operators.TextAnalysis.lengthStatsApprox(table(s, d, "documents")),
      """SELECT source,
        |       count(*) AS n_docs,
        |       ROUND(AVG(len(string_split(text, ' '))), 6) AS mean_tokens,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.25) AS BIGINT) AS p25,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.5) AS BIGINT) AS p50,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.9) AS BIGINT) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // benchmark decontamination: corpus docs sharing a 5-gram with the
    // held-out benchmark slice (doc_id % 7 == 0 plays the eval suite)
    Q("q_decontaminate", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminated(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM corp WHERE s IN (SELECT s FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the audit trail: WHICH benchmark items a training doc leaks, with
    // the shared-n-gram count and a deterministic example
    // per-(doc, bench) pair evidence with the min shared n-gram
    Q("q_contamination_report", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminationReport(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared,
        |       min(c.s) AS example_ngram
        |FROM corp c JOIN bench b ON c.s = b.s
        |GROUP BY 1, 2 ORDER BY c.doc_id, b.bench_id""".stripMargin),
    // the broadcast-Bloom tier: ~10 bits per benchmark n-gram on the wire
    // instead of the exact strings, exact shuffle-join confirmation on
    // the bloom-positive trickle — no false negatives, so it computes
    // exactly the same rows and shares the q_decontaminate oracle
    // bloom pre-filter + exact confirmation ≡ the exact join
    Q("q_decontaminate_bloom", (s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminatedBloom(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM corp WHERE s IN (SELECT s FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // SEMANTIC decontamination: corpus embeddings within cosine 0.45 of
    // any benchmark embedding (vec_id % 7 == 0 plays the eval suite) are
    // dropped — the paraphrase tier n-grams can't see; exact packed
    // block-rectangle kernel, anti-join keeps the clean ids
    // brute-force cross-slice cosine: corpus (≠0 mod 7) survivors with
    // no benchmark (0 mod 7) neighbor at ≥ 0.45 — shared by the exact
    // kernel and the nProbe=nlist IVF serving path
    Q("q_decontaminate_semantic", (s, d) => {
      val e = table(s, d, "embeddings")
      graft.operators.Decontamination.semantic(
        e.filter(col("vec_id") % 7 =!= 0),
        e.filter(col("vec_id") % 7 === 0), threshold = 0.45)
    }, semanticDeconOracleSql),
    // the same contract served from a persisted IVF index over the
    // BENCHMARK at nProbe = nlist (exact) — shares the oracle; at scale
    // the corpus probes nProbe lists instead of the whole eval suite
    Q("q_decontaminate_semantic_idx", (s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_decontaminate_semantic_idx", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 7 === 0),
          "graft_decon_bench_ivf", nlist = 16))
      graft.operators.Decontamination.semanticAgainstIndex(
        e.filter(col("vec_id") % 7 =!= 0), "graft_decon_bench_ivf",
        threshold = 0.45, nProbe = 16)
    }, semanticDeconOracleSql),
    // decontamination as a STREAMING gate: bloom + benchmark shingles
    // built once per stream, each micro-batch exact-confirmed — only
    // clean docs reach the store; oracle = corpus docs with no shared
    // 5-gram (the q_decontaminate survivor set)
    // survivors of the streaming gate = corpus docs with NO shared
    // 5-gram with the benchmark slice
    Q("q_decontaminate_stream", (s, d) => {
      val docs = table(s, d, "documents")
      withTempDir("graft_decon_stream") { tmp =>
        BenchPhases.timed("q_decontaminate_stream", "stage")(
          docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text", "source")
            .repartition(6).write.parquet(s"$tmp/input"))
        val q = BenchPhases.timed("q_decontaminate_stream", "build")(
          graft.streaming.DecontaminationStream.start(s, s"$tmp/input",
            docs.filter(col("doc_id") % 7 === 0), s"$tmp/out", s"$tmp/cp",
            n = 5, maxFilesPerTrigger = Some(1)))
        BenchPhases.drainTimed("q_decontaminate_stream")(
          q)
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM sh
        |          WHERE doc_id % 7 <> 0 AND s IN (SELECT s FROM bench))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY doc_id""".stripMargin),
    // PII redaction: plant synthetic emails/phones/IPs keyed on doc_id
    // (the corpus itself is PII-free), scrub, emit count + content hash
    // PII plant + redact replay — oracle for q_pii_redact. The plant
    // construction and the three [[graft.operators.Redaction.DefaultRules]]
    // patterns are duplicated literally; the patterns avoid every
    // Java-vs-RE2 divergence (no lookaround, no backreferences).
    Q("q_pii_redact", (s, d) => {
      import org.apache.spark.sql.functions.{concat, lpad, md5, when}
      val planted = table(s, d, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" or 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
        .otherwise(col("text")))
      graft.operators.Redaction.redact(planted)
        .select(col("doc_id"), col("n_pii"), md5(col("redacted")).as("redacted_hash"))
        .orderBy("doc_id")
    }, {
      // named lookup, not positional destructure: the oracle replays these
      // three specific rules (the plant only contains them); adding rules to
      // DefaultRules must not crash oracle construction
      val byName = Redaction.DefaultRules.map(r => r._1 -> r._2).toMap
      val (email, phone, ip) = (byName("email"), byName("phone"), byName("ipv4"))
      // counts mirror Redaction.piiCount: each rule counted on the text as
      // already redacted by the rules before it (= actual replacements)
      s"""WITH p AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |                THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
         |              WHEN doc_id % 3 = 1
         |                THEN text || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |                     || ' or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         |              ELSE text END AS t
         |  FROM documents),
         |r1 AS (SELECT doc_id, t, regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1 FROM p),
         |r2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$phone', '<PHONE>', 'g') AS t2 FROM r1)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$email'))
         |          + len(regexp_extract_all(t1, '$phone'))
         |          + len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_pii,
         |       md5(regexp_replace(t2, '$ip', '<IP>', 'g')) AS redacted_hash
         |FROM r2 ORDER BY doc_id""".stripMargin
    }),
    // Unicode NFC composition (decomposed e+U+0301 must hash equal to
    // é in every downstream dedup/shingle): one compiled kernel,
    // cross-checked against DuckDB's INDEPENDENT nfc_normalize — a
    // two-implementation check, not a replay
    // text normalization: NFC is a TWO-IMPLEMENTATION check (DuckDB's
    // independent nfc_normalize vs java.text.Normalizer); mojibake and
    // control-strip are replays generated from the same constants
    Q("q_text_nfc", (s, d) => {
      val dirty = plantDirtyText(table(s, d, "documents"))
      val n = graft.operators.TextNormalization.nfc(col("dirty"))
      dirty.select(col("doc_id"), n.as("text_nfc"),
        (n =!= col("dirty")).as("changed")).orderBy("doc_id")
    },
      s"""WITH $dirtyTextCteSql
         |SELECT doc_id, nfc_normalize(dirty) AS text_nfc,
         |       (nfc_normalize(dirty) <> dirty) AS changed
         |FROM dd ORDER BY doc_id""".stripMargin),
    // UTF-8-as-cp1252 mojibake repair (the Ã©/â€™ classic) over the
    // curated alphabet — a codegen'd replace chain behind a lazy
    // contains guard; the oracle replays the SAME chain generated from
    // the SAME pair table
    Q("q_text_mojibake", (s, d) =>
      plantDirtyText(table(s, d, "documents"))
        .select(col("doc_id"), graft.operators.TextNormalization
          .repairMojibake(col("dirty")).as("repaired"))
        .orderBy("doc_id"),
      s"""WITH $dirtyTextCteSql
         |SELECT doc_id, ${mojibakeChainSql("dirty")} AS repaired
         |FROM dd ORDER BY doc_id""".stripMargin),
    // the full cleaning pass in canonical order: strip control/zero-
    // width chars (C1 kept — mojibake evidence), repair
    // double-encoding, compose to NFC
    qTextNormalize,
    Q("q_sql_text_normalize", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.DocumentsRelation -> plantDirtyText(table(s, d, "documents"))
          .select(col("doc_id"), col("dirty").as("text")))(
        "SELECT doc_id, clean FROM graft_text_normalize() ORDER BY doc_id"), qTextNormalize.oracle),
    // per-doc writing-system profile: one codegen'd regexp_count per
    // explicit codepoint range (\x{..} classes — the one script syntax
    // Java regex and RE2 share), letter total, dominant script with
    // earlier-range tie priority — the routing signal deciding which
    // language pipeline a document enters
    // script routing: counts generated from the shared range constants
    // Script-profile replay, GENERATED from the same
    // [[graft.operators.TextAnalysis.ScriptRanges]] constants and
    // [[ScriptProbes]] bytes. Dominance replays as first-label-equals-
    // max — equivalent to the Spark side's strictly-greater fold with
    // earlier-entry priority (both = earliest range achieving the max;
    // all-zero rows fall to `latin` on both engines).
    Q("q_script_profile", (s, d) =>
      graft.operators.TextAnalysis.scriptProfile(
          plantScriptText(table(s, d, "documents")))
        .orderBy("doc_id"), {
      val ranges = graft.operators.TextAnalysis.ScriptRanges
      val probeCase = ScriptProbes.zipWithIndex.map { case (p, i) =>
        s"WHEN $i THEN ${sqlStr(p)}" }.mkString(" ")
      val countCols = ranges.map { case (n, re) =>
        s"CAST(len(regexp_extract_all(t, ${sqlStr(re)})) AS BIGINT) AS n_$n"
      }.mkString(",\n         ")
      val total = ranges.map(r => s"n_${r._1}").mkString(" + ")
      val m = "GREATEST(" + ranges.map(r => s"n_${r._1}").mkString(", ") + ")"
      val dom = "CASE " + ranges.map { case (n, _) =>
        s"WHEN n_$n = $m THEN '$n'" }.mkString(" ") + " END"
      s"""WITH sd AS (
         |  SELECT doc_id, text || CASE doc_id % 6 $probeCase END AS t
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |         $countCols
         |  FROM sd)
         |SELECT sc.*, CAST($total AS BIGINT) AS n_letters, $dom AS dominant_script
         |FROM sc ORDER BY doc_id""".stripMargin
    }),
    // blocked-token accounting + the C4 badwords drop: exact TOKEN
    // match (not substring) against a broadcast list, one map-side
    // combinable rollup — shuffled bytes ∝ docs, never tokens
    // blocked tokens: exact token membership over the whitespace split
    // of the lowercased planted text; strict-vs-fraction thresholds
    Q("q_badword_stats", (s, d) => {
      import s.implicits._
      val dirty = plantBadwordText(table(s, d, "documents"))
      val words = Seq("badx", "bady", "BadZ").toDF("word")
      graft.operators.CorpusCuration.blockedTokenStats(dirty, words)
        .orderBy("doc_id")
    },
      badwordStatsOracleSql("""
         |SELECT doc_id, n_tokens, n_blocked, blocked_frac FROM bs
         |ORDER BY doc_id""".stripMargin)),
    Q("q_badwords_filter", (s, d) => {
      import s.implicits._
      val dirty = plantBadwordText(table(s, d, "documents"))
      val words = Seq("badx", "bady", "BadZ").toDF("word")
      graft.operators.CorpusCuration
        .filterBlockedTokens(dirty, words, maxFrac = 0.02)
        .select("doc_id").orderBy("doc_id")
    },
      badwordStatsOracleSql("""
         |SELECT doc_id FROM bs WHERE blocked_frac <= 0.02
         |ORDER BY doc_id""".stripMargin))
  )

  // Gopher rule replay — shared by q_gopher and q_sql_gopher.
  private lazy val qGopher: Q = Q("q_gopher", (s, d) =>
    graft.operators.TextAnalysis.gopherRules(table(s, d, "documents")),
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
      |             CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sumlen,
      |             CAST(len(list_filter(w, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
      |             CAST(len(list_filter(w, t -> strpos(t, '#') > 0 OR strpos(t, '...') > 0)) AS BIGINT) AS n_sym,
      |             CAST(len(list_filter(w, t -> t IN ('the','and','of','to','a','in','is','that','it'))) AS BIGINT) AS n_stop
      |      FROM t)
      |SELECT doc_id, n AS n_words,
      |       ROUND(CAST(sumlen AS DOUBLE) / n, 6) AS mean_word_len,
      |       (n >= 50 AND n <= 100000) AS ok_words,
      |       (sumlen >= n * 3 AND sumlen <= n * 10) AS ok_mean_len,
      |       (n_alpha * 10 >= n * 8) AS ok_alpha,
      |       (n_sym * 10 < n) AS ok_symbols,
      |       (n_stop >= 2) AS ok_stops,
      |       ((n >= 50 AND n <= 100000) AND (sumlen >= n * 3 AND sumlen <= n * 10)
      |        AND (n_alpha * 10 >= n * 8) AND (n_sym * 10 < n)
      |        AND (n_stop >= 2)) AS pass
      |FROM s ORDER BY doc_id""".stripMargin)

  // Curate-v2 replay: NB gate (whole-corpus scoring) → UniMax
  // water-filling over the survivors → bucketed batching, score joined
  // back — the three operator replays chained verbatim.
  private lazy val qCurateV2: Q = Q("q_curate_v2", (s, d) => {
    val docs = table(s, d, "documents")
    val scored = graft.operators.QualityModels.nbQualityScores(
      docs.filter(col("doc_id") % 5 =!= 0), docs, col("lang") === "en")
    val survivors = docs.join(
      scored.filter(col("score") > 0).select("doc_id"), "doc_id")
    val budget = survivors.count() * 3 / 5
    val picked = graft.operators.Sampling.unimaxSample(
      survivors, budget, epochs = 1.0)
    graft.operators.Packing.lengthBucketedBatches(
        picked, batchSize = 8, bucketWidth = 16, numShards = 4)
      .join(scored.select("doc_id", "score"), "doc_id")
      .select("doc_id", "n_tokens", "len_bucket", "shard", "batch_id", "score")
      .orderBy("doc_id")
    },
    s"""WITH ${nbScoredCtesSql("1 = 1")},
       |surv AS (SELECT d.doc_id, d.text, d.lang FROM documents d
       |         JOIN nbsc ON d.doc_id = nbsc.doc_id AND nbsc.score > 0),
       |counts AS (SELECT lang, COUNT(*) AS c FROM surv GROUP BY lang),
       |bud AS (SELECT COUNT(*) * 3 // 5 AS budget FROM surv),
       |caps AS (SELECT lang, CAST(FLOOR(c * 1.0) AS BIGINT) AS capl FROM counts),
       |rk AS (SELECT lang, capl,
       |        ROW_NUMBER() OVER (ORDER BY capl, lang) AS k,
       |        COALESCE(SUM(capl) OVER (ORDER BY capl, lang
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |       FROM caps),
       |lt AS (SELECT COUNT(*) AS l FROM counts),
       |g AS (SELECT rk.lang, rk.capl, rk.k, rk.s, lt.l, bud.budget,
       |             (rk.capl * (lt.l - rk.k + 1) + rk.s <= bud.budget) AS fl
       |      FROM rk CROSS JOIN lt CROSS JOIN bud),
       |ks AS (SELECT COALESCE(MAX(CASE WHEN fl THEN k END), 0) AS kstar,
       |              COALESCE(SUM(CASE WHEN fl THEN capl END), 0) AS sk,
       |              MAX(l) AS l, MAX(budget) AS budget FROM g),
       |quotas AS (SELECT g.lang,
       |            CASE WHEN g.k <= ks.kstar THEN g.capl
       |                 ELSE (ks.budget - ks.sk) // GREATEST(ks.l - ks.kstar, 1) END AS quota
       |           FROM g CROSS JOIN ks),
       |wb AS (SELECT doc_id, lang, ${md5BucketSql("unimax", "doc_id")} AS b FROM surv),
       |selu AS (SELECT doc_id, lang,
       |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM wb),
       |picked AS (SELECT s.doc_id FROM selu s JOIN quotas q USING (lang)
       |           WHERE s.rn <= q.quota),
       |t AS (SELECT sv.doc_id,
       |        CAST(len(string_split(sv.text, ' ')) AS BIGINT) AS n_tokens,
       |        ${md5BucketSql("batch", "sv.doc_id")} AS sk2
       |      FROM surv sv JOIN picked USING (doc_id)),
       |b2 AS (SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket, sk2,
       |             CAST(sk2 % 4 AS INT) AS shard FROM t),
       |r2 AS (SELECT doc_id, n_tokens, len_bucket, shard, sk2,
       |        (ROW_NUMBER() OVER (PARTITION BY len_bucket, shard
       |           ORDER BY sk2, doc_id) - 1) // 8 AS seq
       |      FROM b2)
       |SELECT r2.doc_id, r2.n_tokens, r2.len_bucket, r2.shard,
       |       CAST(r2.len_bucket * 4294967296 + r2.shard * 1048576 + r2.seq AS BIGINT) AS batch_id,
       |       nbsc.score
       |FROM r2 JOIN nbsc ON r2.doc_id = nbsc.doc_id
       |ORDER BY r2.doc_id""".stripMargin)

  private lazy val qQualityClassifier: Q = Q("q_quality_classifier", (s, d) => {
    val docs = table(s, d, "documents")
    graft.operators.QualityModels.nbQualityScores(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      col("lang") === "en")
    }, nbQualityOracleSql)

  private lazy val qTextNormalize: Q = Q("q_text_normalize", (s, d) =>
    plantDirtyText(table(s, d, "documents"))
      .select(col("doc_id"), graft.operators.TextNormalization
        .normalize(col("dirty")).as("clean"))
      .orderBy("doc_id"), {
    val stripped = "regexp_replace(dirty, '" +
      graft.operators.TextNormalization.ControlCharClass + "', '', 'g')"
    s"""WITH $dirtyTextCteSql
       |SELECT doc_id, nfc_normalize(${mojibakeChainSql(stripped)}) AS clean
       |FROM dd ORDER BY doc_id""".stripMargin
  })

  /** Bigram-LM scoring replay (add-one smoothing, 4-dp nll) — oracle for
    * q_lm_score and the base of the q_ccnet bucketing replay.
    */
  private def lmScoreOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |refw AS (SELECT * FROM w WHERE doc_id % 7 = 0),
      |corpw AS (SELECT * FROM w WHERE doc_id % 7 <> 0),
      |refu AS (SELECT unnest(w) AS t FROM refw),
      |refuc AS (SELECT t, count(*) AS u FROM refu GROUP BY t),
      |v AS (SELECT count(*) AS v FROM refuc),
      |refbi AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |          FROM refw WHERE len(w) >= 2),
      |refb AS (SELECT w1, w2, count(*) AS b FROM refbi GROUP BY 1, 2),
      |corpbi AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |           FROM corpw WHERE len(w) >= 2),
      |sc AS (SELECT c.doc_id,
      |         ln(CAST(COALESCE(rb.b, 0) + 1 AS DOUBLE) / (COALESCE(ru.u, 0) + v.v)) AS lp,
      |         CASE WHEN rb.b IS NULL THEN 1 ELSE 0 END AS oov
      |       FROM corpbi c
      |       LEFT JOIN refb rb ON c.w1 = rb.w1 AND c.w2 = rb.w2
      |       LEFT JOIN refuc ru ON c.w1 = ru.t
      |       CROSS JOIN v),
      |agg AS (SELECT doc_id, ROUND(-AVG(lp), 4) AS nll,
      |               ROUND(AVG(CAST(oov AS DOUBLE)), 6) AS oov_bigram_frac
      |        FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(a.nll, 0.0) AS nll,
      |       COALESCE(a.oov_bigram_frac, 0.0) AS oov_bigram_frac
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Winnowing replay: the rolling hash recomputed as the direct modular
    * polynomial (identical values — both reduce mod the same prime), then
    * the rightmost-min window selection as nested list comprehensions.
    */
  private def winnowOracleSql: String = {
    import graft.operators.TextAnalysis.{WinnowK => K, WinnowW => W}
    val P = 1000000007L
    val pw = (0 until K).map(j => BigInt(257).modPow(BigInt(K - 1 - j), BigInt(P)))
    val pwList = pw.map(p => s"CAST($p AS BIGINT)").mkString("[", ",", "]")
    s"""WITH h AS (
       |  SELECT doc_id, length(text) - $K + 1 AS m,
       |    [ CAST(list_sum([ CAST(unicode(substr(text, i + j, 1)) AS BIGINT) * ($pwList)[j+1]
       |                 for j in range(0, $K) ]) % $P AS BIGINT)
       |      for i in range(1, length(text) - $K + 2) ] AS hs
       |  FROM documents WHERE length(text) >= $K),
       |fp AS (
       |  SELECT doc_id, hs,
       |    CASE WHEN m >= $W THEN
       |      list_distinct([ list_max([ i for i in range(j, j + $W) if hs[i] = list_min(hs[j : j + $W - 1]) ])
       |                      for j in range(1, m - $W + 2) ])
       |    ELSE [ list_max([ i for i in range(1, m + 1) if hs[i] = list_min(hs) ]) ] END AS poss
       |  FROM h)
       |SELECT doc_id, unnest(poss) - 1 AS pos, hs[unnest(poss)] AS fp
       |FROM fp ORDER BY doc_id, pos""".stripMargin
  }

  /** Script probes appended by doc_id%6 (\u escapes — plant and oracle
    * share exact codepoints): none (Latin body only), Cyrillic, Han,
    * Arabic, Greek, Hangul samples.
    */
  private val ScriptProbes: Seq[String] = Seq(
    "",
    " Привет мир",
    " 你好世界文档 カタ",
    " مرحبا بك",
    " αβγ δεζ",
    " 안녕하세요")

  private def plantScriptText(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, when}
    val v = expr("doc_id % 6")
    val suffix = ScriptProbes.zipWithIndex.tail
      .foldLeft(when(v === 0, lit(ScriptProbes.head))) {
        case (acc, (p, i)) => acc.when(v === i, lit(p))
      }
    docs.select(col("doc_id"), concat(col("text"), suffix).as("text"))
  }

  /** Badword plant: doc_id%9==1 gains one blocked token (a single hit
    * must trip the strict rule but stay under a fraction threshold on
    * long docs), %9==2 gains three (two distinct words, repeats
    * counted per occurrence). Tokenization is whitespace on the
    * LOWERCASED text, matching the oracle's split.
    */
  private def plantBadwordText(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    docs.select(col("doc_id"), concat(col("text"),
      expr("CASE doc_id % 9 WHEN 1 THEN ' badx' " +
        "WHEN 2 THEN ' badx bady badx' ELSE '' END")).as("text"))
  }

  /** Badword replay: the plant, the whitespace split of the lowercased
    * text, exact token membership ('BadZ' lowercased like the Spark
    * side lowers the words frame), 6-dp fraction. `finalSelect` reads
    * CTE `bs` (doc_id, n_tokens, n_blocked, blocked_frac).
    */
  private def badwordStatsOracleSql(finalSelect: String): String =
    s"""WITH bd AS (
       |  SELECT doc_id, lower(text ||
       |           CASE doc_id % 9 WHEN 1 THEN ' badx'
       |                WHEN 2 THEN ' badx bady badx' ELSE '' END) AS t
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS tok
       |  FROM bd),
       |bs AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(CASE WHEN tok IN ('badx', 'bady', 'badz')
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       |         round(SUM(CASE WHEN tok IN ('badx', 'bady', 'badz')
       |                        THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS blocked_frac
       |  FROM tk GROUP BY doc_id)
       |$finalSelect""".stripMargin

  /** Dirty-text suffix appended to every document for the
    * normalization rows — written entirely in \u escapes so the plant
    * and the oracle interpolation share exact bytes. Contents: a
    * DECOMPOSED accent (`e`+U+0301, NFC must compose it), the mojibake
    * of `déjà` (`Ã©` and `Ã `+NBSP forms) and of an em dash
    * (`â€”`), a zero-width space and a BEL control (both stripped),
    * and the mojibake of `”` whose third byte is cp1252-undefined and
    * decodes to the C1 control U+009D — which [[graft.operators
    * .TextNormalization.stripControls]] must NOT eat before repair.
    */
  private val DirtyTextSuffix: String =
    " Cafe\u0301 d\u00C3\u00A9j\u00C3\u00A0 vu \u00E2\u20AC\u201D " +
      "a\u200Bb \u0007ok \u00E2\u20AC\u009Dend"

  private def plantDirtyText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), lit(DirtyTextSuffix)).as("dirty"))

  /** The [[plantDirtyText]] replay — suffix bytes shared via
    * [[sqlStr]].
    */
  private def dirtyTextCteSql: String =
    s"""dd AS (
       |  SELECT doc_id, text || ${sqlStr(DirtyTextSuffix)} AS dirty
       |  FROM documents)""".stripMargin

  /** The mojibake repair chain as nested DuckDB `replace` calls —
    * GENERATED from the same
    * [[graft.operators.TextNormalization.MojibakePairs]] table the
    * Spark side folds, so the two engines cannot drift on the pair
    * set or its order.
    */
  private def mojibakeChainSql(x: String): String =
    graft.operators.TextNormalization.MojibakePairs.foldLeft(x) {
      case (acc, (bad, good)) => s"replace($acc, ${sqlStr(bad)}, ${sqlStr(good)})"
    }

  /** Semantic-decontamination oracle: corpus (vec_id ≠ 0 mod 7) vectors
    * with NO benchmark (vec_id = 0 mod 7) cosine neighbor at ≥ 0.45.
    */
  private def semanticDeconOracleSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |dirty AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM n a JOIN n b ON a.vec_id % 7 <> 0 AND b.vec_id % 7 = 0
      |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |          / (a.nrm * b.nrm) >= 0.45)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id % 7 <> 0 AND vec_id NOT IN (SELECT vec_id FROM dirty)
      |ORDER BY vec_id""".stripMargin

  /** Top-30 full-corpus vocabulary (tf, doc-distinct df; tf DESC, token
    * ASC) — shared by the incremental-index and streaming-index rows.
    */
  private def vocabTop30OracleSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM t GROUP BY token ORDER BY tf DESC, token ASC LIMIT 30""".stripMargin

  /** CTE chain producing `nbsc(doc_id, score, pred)` — the NB replay
    * (train on doc_id % 5 <> 0, pos = lang = 'en') scoring the docs
    * selected by `evalPredSql`. Shared by the classifier rows and the
    * curate-v2 composition (which scores the WHOLE corpus).
    */
  private def nbScoredCtesSql(evalPredSql: String): String =
    s"""tr AS (SELECT lang = 'en' AS pos, string_split(text, ' ') AS w
      |            FROM documents WHERE doc_id % 5 <> 0),
      |tok AS (SELECT pos, unnest(w) AS t FROM tr),
      |cnt AS (SELECT t, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
      |        FROM tok GROUP BY t),
      |tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM cnt),
      |dts AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS dp,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS dn FROM tr),
      |ev AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |       FROM documents WHERE $evalPredSql),
      |sc AS (SELECT e.doc_id,
      |         ln(CAST(COALESCE(c.cp, 0) + 1 AS DOUBLE) / (tot.np + tot.v)) -
      |         ln(CAST(COALESCE(c.cn, 0) + 1 AS DOUBLE) / (tot.nn + tot.v)) AS w
      |       FROM ev e LEFT JOIN cnt c ON e.t = c.t CROSS JOIN tot),
      |agg AS (SELECT doc_id, SUM(w) AS sw FROM sc GROUP BY doc_id),
      |nbsc AS (
      |  SELECT d.doc_id,
      |       ROUND(ln(CAST(dts.dp + 1 AS DOUBLE) / (dts.dn + 1)) + COALESCE(a.sw, 0), 4) AS score,
      |       ROUND(ln(CAST(dts.dp + 1 AS DOUBLE) / (dts.dn + 1)) + COALESCE(a.sw, 0), 4) > 0 AS pred
      |  FROM (SELECT doc_id FROM documents WHERE $evalPredSql) d
      |  LEFT JOIN agg a USING (doc_id) CROSS JOIN dts)""".stripMargin

  /** NB quality-classifier replay scoring the held-out slice. Shared by
    * q_quality_classifier, q_quality_model_idx and q_sql_quality.
    */
  private def nbQualityOracleSql: String =
    s"""WITH ${nbScoredCtesSql("doc_id % 5 = 0")}
      |SELECT doc_id, score, pred FROM nbsc ORDER BY doc_id""".stripMargin

  /** BPE training replay: the full k-iteration loop (word histogram →
    * pair counts → argmax merge → greedy apply) unrolled as CTE stages.
    * The symbol encoding (`<a><b>` wrapping) and the literal-`replace`
    * greedy merge are the same construction as `BpeTokenizer` — replace
    * semantics (left-to-right, non-overlapping) agree across the JVM and
    * DuckDB, which is what makes the sequential algorithm replayable.
    * `encode = true` emits per-doc post-merge token counts instead of the
    * merge table (token count = '<' count after applying all k merges).
    */
  private def bpeOracleSql(k: Int, mode: String): String = {
    val encode = mode != "train"
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(t, '(.)', '<\1>', 'g') AS syms, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE regexp_matches(t, '^[a-z]+$')
        |  GROUP BY 1)""".stripMargin
    val iters = (1 to k).map { i =>
      val apply =
        if (i == k && !encode) "" // the last post-merge histogram is unused
        else
          s""",
             |w$i AS MATERIALIZED (
             |  SELECT replace(w.syms, '<' || b.s1 || '><' || b.s2 || '>',
             |                 '<' || b.s1 || b.s2 || '>') AS syms, w.freq
             |  FROM w${i - 1} w CROSS JOIN b$i b)""".stripMargin
      s"""p$i AS MATERIALIZED (
         |  SELECT s1, s2, SUM(freq) AS f FROM (
         |    SELECT freq, unnest(l[1:len(l)-1]) AS s1, unnest(l[2:len(l)]) AS s2
         |    FROM (SELECT freq, string_split(substr(syms, 2, len(syms) - 2), '><') AS l
         |          FROM w${i - 1}))
         |  GROUP BY s1, s2),
         |b$i AS MATERIALIZED (
         |  SELECT s1, s2, f FROM p$i ORDER BY f DESC, s1 ASC, s2 ASC LIMIT 1)$apply""".stripMargin
    }.mkString(",\n")
    val finalSel = mode match {
      case "train" =>
        val rows = (1 to k).map { i =>
          s"SELECT CAST($i AS BIGINT) AS step, s1 AS lhs, s2 AS rhs, CAST(f AS BIGINT) AS freq FROM b$i"
        }.mkString("\n  UNION ALL ")
        s"SELECT * FROM (\n  $rows\n) ORDER BY step"
      case enc @ ("encode" | "fertility") =>
        val chain = (1 to k).foldLeft("regexp_replace(t, '(.)', '<\\1>', 'g')") {
          case (acc, i) =>
            s"replace($acc, '<' || b$i.s1 || '><' || b$i.s2 || '>', '<' || b$i.s1 || b$i.s2 || '>')"
        }
        val joins = (1 to k).map(i => s"CROSS JOIN b$i").mkString(" ")
        if (enc == "encode")
          s"""SELECT doc_id,
             |       CAST(SUM(len(m) - len(replace(m, '<', ''))) AS BIGINT) AS n_tokens
             |FROM (
             |  SELECT doc_id, $chain AS m
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
             |  $joins)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin
        else
          s"""SELECT lang,
             |       CAST(SUM(len(m) - len(replace(m, '<', ''))) AS BIGINT) AS n_bpe,
             |       CAST(COUNT(*) AS BIGINT) AS n_words,
             |       ROUND(CAST(SUM(len(m) - len(replace(m, '<', ''))) AS DOUBLE) / COUNT(*), 6) AS fertility
             |FROM (
             |  SELECT lang, $chain AS m
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
             |  $joins)
             |GROUP BY lang ORDER BY lang""".stripMargin
    }
    s"WITH $w0,\n$iters\n$finalSel"
  }
}
