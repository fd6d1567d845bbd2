package graft
package contract

import org.apache.spark.sql.functions.{col, concat, count, lit, when}

/** Embedding retrieval and near-duplicates: ANN (brute force, IVF, SQ8,
  * JL, LSH), MMR, k-centers, semantic dedup and corpus drift. */
object EmbedContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // chunk -> doc mean pooling: every 8 consecutive vec_ids play one
    // document's chunks; the gate row explodes the pooled arrays so the
    // compare stays on scalar columns
    // parallel unnests zip in DuckDB, giving (pos, v) pairs; the pooled
    // mean replays as a (group, pos) AVG rounded to the same 6 dp
    Q("q_embed_pool", (s, d) => {
      import org.apache.spark.sql.functions.{expr, posexplode}
      val e = table(s, d, "embeddings")
        .withColumn("group_id", expr("vec_id div 8"))
      graft.operators.Ann.meanPoolEmbeddings(e, "group_id")
        .select(col("group_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("group_id"), col("pos").cast("long").as("pos"), col("v"))
        .orderBy("group_id", "pos")
    },
      """WITH x AS (
        |  SELECT vec_id // 8 AS group_id,
        |         unnest(range(0, len(embedding))) AS pos,
        |         unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT group_id, pos, ROUND(AVG(v), 6) AS v
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // brute-force cosine top-k
    qAnnTopk,
    // the pipeline surface through SQL: ANN serving and the epoch
    // shuffle called as table functions over registered views — each
    // shares its method-path oracle (the builder returns the method's
    // own logical plan, so this pins registration, not new semantics)
    Q("q_sql_ann_topk", (s, d) =>
      sqlFace(s, SqlTableFunctions.EmbeddingsRelation -> table(s, d, "embeddings"))(
        "SELECT * FROM graft_ann_topk(0, 20)"), qAnnTopk.oracle),
    // the same top-k served from int8 scalar-quantized codes (4× smaller
    // scan); the oracle replays quantize → decode → cosine bit-for-bit
    Q("q_ann_topk_sq8", (s, d) =>
      graft.operators.Ann.topKSq8(table(s, d, "embeddings"), queryId = 0, k = 20),
      annTopkSq8OracleSql),
    // JL-projected ANN: 64→16 dims through the deterministic ±1 hash
    // matrix (4× cheaper probes/scan), then the standard top-20 — the
    // oracle replays matrix, projection, float cast and cosine exactly
    // JL projection replay: hash-derived ±1 matrix (md5 hex-digit
    // parity), per-dim sequential dot fold, ×0.25 (= 1/√16, exact),
    // FLOAT cast, then the brute-force cosine over the projected lists
    Q("q_ann_jl", (s, d) =>
      graft.operators.Ann.topK(
        graft.operators.Ann.jlProject(table(s, d, "embeddings"),
          outDim = 16, seed = 7),
        queryId = 0, k = 20),
      """WITH mat AS (
        |  SELECT list([CASE WHEN (strpos('0123456789abcdef',
        |           substr(md5('jl:7:' || j || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 1
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
        |         FOR i IN range(1, 65)] ORDER BY j) AS rows
        |  FROM (SELECT unnest(range(0, 16)) AS j)),
        |proj AS (
        |  SELECT e.vec_id,
        |         list_transform(range(1, 17),
        |           j -> CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |                  i -> CAST(e.embedding[i] AS DOUBLE) * m.rows[j][i])) * 0.25 AS FLOAT)) AS p
        |  FROM embeddings e CROSS JOIN mat m),
        |q AS (SELECT p AS qe FROM proj WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |         list_sum(list_transform(range(1, len(e.p)+1),
        |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
        |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
        |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
        |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
        |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
        |  FROM proj e, q)
        |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
        |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin),
    // MMR diversified rerank of the brute-force top-20 down to 8: greedy
    // relevance-minus-redundancy, kCand-bounded driver loop; the oracle
    // unrolls all 8 selection steps as a CTE chain over the same doubles
    // the 8 greedy MMR selection steps unrolled as a CTE chain
    qAnnMmr,
    Q("q_sql_mmr", (s, d) =>
      sqlFace(s, SqlTableFunctions.EmbeddingsRelation -> table(s, d, "embeddings"))(
        "SELECT * FROM graft_ann_mmr(0, 20, 8, 0.7)"), qAnnMmr.oracle),
    // k-center coreset (farthest-point traversal): 8 diversity-spanning
    // picks over the whole corpus; driver state = 8 vectors, k scans
    // the 8 farthest-point picks unrolled as a MATERIALIZED CTE chain
    // (the MMR oracle recipe); per-(point, center) distances rounded to
    // 6 dp before the min/argmax, exactly as the Spark traversal does
    Q("q_kcenters", (s, d) =>
      graft.operators.Ann.kCenters(table(s, d, "embeddings"), k = 8), kCentersOracleSql(k = 8)),
    // exact embedding similarity pairs via the distributed block kernel
    // (0.45: the synthetic embeddings contain no true near-dups — max
    // pairwise cosine ≈ 0.51, so the exact tier is the only one that can
    // return rows at this threshold)
    Q("q_embed_neardup", (s, d) =>
      graft.operators.Ann.neardupPairs(table(s, d, "embeddings"), threshold = 0.45),
      neardupOracleSql),
    // incremental embedding near-dup: odd vec_ids play today's batch,
    // even ids the index — Bn×Bi rectangle kernel, |new|·|index| dot
    // products instead of O(|union|²)
    // cross-slice brute force: new (odd) × index (even), oriented sides
    Q("q_embed_neardup_inc", (s, d) => {
      val e = table(s, d, "embeddings")
      graft.operators.Ann.neardupPairsIncremental(
        e.filter(col("vec_id") % 2 === 1),
        e.filter(col("vec_id") % 2 === 0), threshold = 0.45)
    },
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.embedding)+1),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin),
    // the same batch-vs-index near-dup through the PERSISTED IVF index:
    // even vectors indexed once (norms stored, ivf_list-partitioned),
    // odd vectors probed at nProbe = nlist (exact ⇒ shares the
    // incremental oracle); nProbe < nlist is the documented scale dial
    // the persisted-IVF path at nProbe = nlist computes the identical set
    Q("q_embed_neardup_idx", (s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_idx", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "graft_ivf_neardup", nlist = 16))
      graft.operators.Ann.neardupAgainstIvfIndex(
        e.filter(col("vec_id") % 2 === 1), "graft_ivf_neardup",
        threshold = 0.45, nProbe = 16)
    },
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.embedding)+1),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin),
    // SQ8 index maintenance lifecycle: build on the even half, append
    // the odd half vs the STORED centroids, then serve topK at
    // nProbe = nlist — exact over the full corpus, so it shares the
    // brute-force SQ8 oracle (the float q_ann_ivf_append pattern)
    // ... and so is the build-half + append-half lifecycle
    Q("q_ann_ivf_sq8_app", (s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_ann_ivf_sq8_app", "build")(
        graft.operators.Ann.writeIvfSq8Index(e.filter(col("vec_id") % 2 === 0),
          "graft_ivfsq8_app", nlist = 16))
      BenchPhases.timed("q_ann_ivf_sq8_app", "append")(
        graft.operators.Ann.appendToIvfSq8Index(
          e.filter(col("vec_id") % 2 === 1), "graft_ivfsq8_app"))
      graft.operators.Ann.ivfTopKSq8AgainstIndex(s, "graft_ivfsq8_app",
        queryId = 0L, k = 20, nProbe = 16)
    }, annTopkSq8OracleSql),
    // near-dup served from the composed IVF-SQ8 index (the serving
    // symmetry: both index families serve topK AND near-dup). Symmetric
    // distance — both sides quantized+decoded — and nProbe = nlist, so
    // the oracle replays quantize -> decode -> cross-slice cosine in SQL
    // SQ8 near-dup: both sides quantize -> decode, then the cross-slice
    // cosine — same decode replay as annTopkSq8OracleSql, pair-shaped
    Q("q_embed_neardup_sq8", (s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_sq8", "build")(
        graft.operators.Ann.writeIvfSq8Index(e.filter(col("vec_id") % 2 === 0),
          "graft_ivfsq8_neardup", nlist = 16))
      graft.operators.Ann.neardupAgainstIvfSq8Index(
        e.filter(col("vec_id") % 2 === 1), "graft_ivfsq8_neardup",
        threshold = 0.45, nProbe = 16)
    },
      """WITH mm AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_min(embedding) AS DOUBLE) AS mn,
        |         CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id,
        |         CASE WHEN mx > mn THEN
        |           list_transform(embedding,
        |             x -> mn + FLOOR((CAST(x AS DOUBLE) - mn)/(mx - mn)*255 + 0.5)/255*(mx - mn))
        |         ELSE list_transform(embedding, x -> mn) END AS dq
        |  FROM mm),
        |n AS (SELECT vec_id, dq,
        |             sqrt(list_sum(list_transform(dq, x -> x*x))) AS nrm FROM d),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.dq)+1),
        |            i -> a.dq[i] * b.dq[i])) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin),
    // the SAME batch-vs-index near-dup through the STREAMING gate: IVF
    // index persisted once, the "crawl" streamed in micro-batches
    // (maxFilesPerTrigger=1 under AvailableNow), novel vectors appended
    // to the output store — the embedding face of q_dedup_stream; at
    // nProbe = nlist the gate is exact, so the oracle is the cross-slice
    // brute-force survivor set
    // survivors of the streaming gate = odd vectors with NO exact
    // cross-slice cos >= 0.45 pair (nProbe = nlist makes the gate exact)
    Q("q_embed_neardup_stream", (s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_stream", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "graft_stream_ivf_index", nlist = 16))
      withTempDir("graft_embed_stream") { tmp =>
        BenchPhases.timed("q_embed_neardup_stream", "stage")(
          e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_embed_neardup_stream")(
          graft.streaming.AnnStream.start(s, s"$tmp/input", "graft_stream_ivf_index",
              s"$tmp/out", s"$tmp/cp", threshold = 0.45, nProbe = 16,
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("vec_id").orderBy("vec_id")
      }
    },
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |dup AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
        |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm) >= 0.45)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin),
    // SemDeDup: cluster-bounded semantic dedup — max-cosine assignment to
    // fixed seed centroids (first 16 corpus vectors, so the WHOLE pipeline
    // incl. assignment replays in SQL), within-cluster pairwise at 0.8,
    // CC, keep = min id. Clones of every 50th vector are planted: an
    // identical vector shares its original's assignment deterministically,
    // so each clone forms a within-cluster pair and is dropped
    // reachability closure over the exact cosine pair graph, every
    // vector labeled — the embedding face of the clusters oracle
    // SemDeDup replay: seed-cosine assignment (row_number over the same
    // (cos DESC, list_id ASC) order the Spark argmax scan uses), within-
    // cluster pairs, recursive-CTE components, min-id keep
    Q("q_semdedup", (s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val seeds = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("list_id"), col("embedding").as("centroid"))
      graft.operators.SemDedup.semDedup(e.unionByName(planted), seeds, threshold = 0.8)
    },
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM base),
        |sn AS (
        |  SELECT vec_id AS list_id, embedding AS ce,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS cn
        |  FROM embeddings WHERE vec_id < 16),
        |scored AS (
        |  SELECT n.vec_id, sn.list_id,
        |         list_sum(list_transform(range(1, len(n.embedding)+1),
        |            i -> CAST(n.embedding[i] AS DOUBLE) * CAST(sn.ce[i] AS DOUBLE)))
        |           / (n.nrm * sn.cn) AS cos
        |  FROM n, sn),
        |assigned AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY cos DESC, list_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN assigned aa ON a.vec_id = aa.vec_id
        |       JOIN assigned bb ON aa.list_id = bb.list_id
        |       JOIN n b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm) >= 0.8),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach(nn, r) AS (
        |  SELECT DISTINCT u, u FROM e
        |  UNION
        |  SELECT reach.nn, e.v FROM reach JOIN e ON reach.r = e.u),
        |comp AS (SELECT nn, min(r) AS component FROM reach GROUP BY nn)
        |SELECT b.vec_id, a.list_id, COALESCE(c.component, b.vec_id) AS component,
        |       COALESCE(c.component, b.vec_id) = b.vec_id AS keep
        |FROM base b JOIN assigned a ON b.vec_id = a.vec_id
        |     LEFT JOIN comp c ON b.vec_id = c.nn
        |ORDER BY b.vec_id""".stripMargin),
    // exact repeated-substring spans: 20-char rolling windows occurring
    // ≥2 times corpus-wide, merged per document into maximal spans —
    // the character-level dedup tier (winnowing is the approximate one)
    // span replay: per-row range unnest → substr windows → HAVING ≥2 →
    // the same lag/island merge (break when gap > L)
    Q("q_dup_spans", (s, d) =>
      graft.operators.SpanDedup.duplicatedSpans(table(s, d, "documents"), minLen = 20),
      """WITH wins AS (
        |  SELECT doc_id, unnest(range(1, len(text) - 18)) AS pos, text
        |  FROM documents WHERE len(text) >= 20),
        |sub AS (SELECT doc_id, pos, substr(text, pos, 20) AS win FROM wins),
        |dup AS (SELECT win FROM sub GROUP BY win HAVING count(*) >= 2),
        |d AS (SELECT s.doc_id, s.pos FROM sub s WHERE s.win IN (SELECT win FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
        |              THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end,
        |       COUNT(*) AS n_windows
        |FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin),
    // corpus snapshot diff: old = ids %10≠0, new = ids %10≠1 with every
    // 7th document's text rewritten — added/removed/changed only, churn-
    // proportional output, texts reduced to md5 at the scan
    // snapshot diff: membership via full outer join, content via md5 —
    // both engines hash the same lowercase-hex md5
    Q("q_corpus_diff", (s, d) => {
      val docs = table(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap)
    },
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 <> 1),
        |j AS (SELECT o.doc_id AS id_o, n.doc_id AS id_n, md5(o.text) AS h_o, md5(n.text) AS h_n
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT COALESCE(id_o, id_n) AS doc_id,
        |       CASE WHEN id_o IS NULL THEN 'added'
        |            WHEN id_n IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status
        |FROM j WHERE id_o IS NULL OR id_n IS NULL OR h_o <> h_n
        |ORDER BY doc_id""".stripMargin),
    // token-distribution drift between the same two snapshots: top-50
    // per-token KL(new‖old) contributions under add-one smoothing
    // drift replay: identical smoothing arithmetic ((cnt+1.0)/(total+V),
    // natural log), rounded 6 dp; ordering on the ROUNDED term so both
    // engines rank identically
    Q("q_corpus_drift", (s, d) => {
      val docs = table(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.SnapshotDiff.tokenDrift(oldSnap, newSnap, k = 50)
    },
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 <> 1),
        |co AS (SELECT unnest(string_split(text, ' ')) AS token FROM o),
        |cog AS (SELECT token, count(*) AS cnt_old FROM co GROUP BY 1),
        |cn AS (SELECT unnest(string_split(text, ' ')) AS token FROM n),
        |cng AS (SELECT token, count(*) AS cnt_new FROM cn GROUP BY 1),
        |j AS (SELECT COALESCE(cog.token, cng.token) AS token,
        |             COALESCE(cnt_old, 0) AS cnt_old, COALESCE(cnt_new, 0) AS cnt_new
        |      FROM cog FULL OUTER JOIN cng ON cog.token = cng.token),
        |tot AS (SELECT CAST(SUM(cnt_old) AS BIGINT) AS t_old,
        |               CAST(SUM(cnt_new) AS BIGINT) AS t_new,
        |               COUNT(*) AS v FROM j),
        |terms AS (
        |  SELECT token, cnt_old, cnt_new,
        |         ROUND(((cnt_new + 1.0) / (t_new + v)) *
        |               ln(((cnt_new + 1.0) / (t_new + v)) /
        |                  ((cnt_old + 1.0) / (t_old + v))), 6) AS kl_term
        |  FROM j, tot)
        |SELECT token, cnt_old, cnt_new, kl_term
        |FROM terms ORDER BY abs(kl_term) DESC, token ASC LIMIT 50""".stripMargin),
    // duplicate-cluster resolution generalizes to the EMBEDDING pair
    // graph unchanged: components of the exact cosine near-dup pairs,
    // every vector labeled (singletons by themselves)
    Q("q_embed_clusters", (s, d) => {
      val emb = table(s, d, "embeddings")
      graft.operators.Clustering.assignComponents(
          emb, graft.operators.Ann.neardupPairs(emb, threshold = 0.45),
          idCol = "vec_id", src = "id_a", dst = "id_b")
        .orderBy("vec_id")
    },
      s"""WITH RECURSIVE nd AS ($neardupOracleSql),
         |e AS (SELECT id_a AS u, id_b AS v FROM nd
         |      UNION SELECT id_b, id_a FROM nd),
         |reach(n, r) AS (
         |  SELECT DISTINCT u, u FROM e
         |  UNION
         |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u),
         |comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n)
         |SELECT em.vec_id, COALESCE(c.component, em.vec_id) AS component
         |FROM embeddings em LEFT JOIN comp c ON em.vec_id = c.n
         |ORDER BY vec_id""".stripMargin),
    // LSH-bucketed near-dup pairs at the operator's design point
    // (cos ≥ 0.8, default bits=12/tables=6). The raw synthetic corpus has
    // no pairs in that regime, so the query plants true near-dups:
    // duplicate copies of every 50th vector under offset ids. Identical
    // vectors share every sign-sketch deterministically, so recall on the
    // planted pairs is 1 by construction (not probabilistically); random
    // pairs (θ≈90°) collide with prob ≈ 6·0.5¹² ≈ 0.15%, so candidates
    // stay pruned. Oracle = independent DuckDB brute force over the same
    // planted corpus.
    // independent brute force over the planted-duplicate corpus at the LSH
    // design threshold (recall on identical-vector pairs is deterministic)
    // Brute-force cosine pairs at 0.8 over the planted-duplicate corpus —
    // oracle for q_embed_neardup_lsh. Same construction as the Spark side:
    // every 50th vector duplicated under an offset id.
    Q("q_embed_neardup_lsh", (s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.operators.Ann.lshNeardupPairs(e.unionByName(planted), threshold = 0.8)
    },
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM corpus),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_sum(list_transform(range(1, len(a.embedding)+1),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.8 ORDER BY id_a, id_b""".stripMargin),
    // IVF-partitioned top-k, run at nProbe = nlist (all lists probed —
    // exactly brute force by construction, so it shares the q_ann_topk
    // DuckDB oracle and the whole IVF plan (sample → train → assign →
    // probe) is hash-checked end-to-end; the pruned nProbe < nlist
    // configuration stays spec-tested in OperatorsSpec)
    // nProbe = nlist probes every inverted list — identical to brute force
    Q("q_ann_ivf", (s, d) =>
      graft.operators.Ann.ivfTopK(table(s, d, "embeddings"), queryId = 0, k = 20,
        nlist = 16, nProbe = 16), annTopkOracleSql),
    // IVF through the PERSISTED index: build once (train + assign +
    // partitioned write), then query without retraining; at nProbe =
    // nlist it shares the brute-force oracle, so the whole
    // write-index → probe-from-index path is hash-checked end-to-end
    // ... and the persisted-index path at nProbe = nlist is the same scan
    qAnnIvfIndexed,
    // persisted-index serving via SQL: index built once, then queried
    // by table name at nProbe = nlist (exact ⇒ brute-force oracle)
    // full-probe persisted-index serving via SQL ≡ brute force
    Q("q_sql_ivf_topk", (s, d) => {
      graft.operators.Ann.writeIvfIndex(table(s, d, "embeddings"),
        "graft_sql_ivf_idx", nlist = 16)
      sqlFace(s)(
        "SELECT * FROM graft_ivf_topk('graft_sql_ivf_idx', 0, 20, 16)")
    }, qAnnIvfIndexed.oracle),
    // the index MAINTENANCE path: build on the even half, append the odd
    // half against the stored centroids (no retrain), probe at
    // nProbe = nlist — exact, so it shares the brute-force oracle; drift
    // is asserted sane (reference stored at write time)
    // build-on-half + append-half probed at nProbe = nlist is exact too
    Q("q_ann_ivf_append", (s, d) => {
      val emb = table(s, d, "embeddings")
      BenchPhases.timed("q_ann_ivf_append", "build")(
        graft.operators.Ann.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          "graft_ivf_append", nlist = 16))
      BenchPhases.timed("q_ann_ivf_append", "append")(
        graft.operators.Ann.appendToIvfIndex(
          emb.filter(col("vec_id") % 2 === 1), "graft_ivf_append"))
      val (_, _, ratio) = graft.operators.Ann.ivfDrift(s, "graft_ivf_append")
      require(ratio > 0, s"drift ratio must be positive, got $ratio")
      graft.operators.Ann.ivfTopKAgainstIndex(s, "graft_ivf_append",
        queryId = 0, k = 20, nProbe = 16)
    }, annTopkOracleSql),
    // IVF-SQ8 composed index (FAISS's IVF-SQ shape): int8 codes stored
    // in the ivf_list-partitioned table, decode INSIDE the scoring
    // kernel; at nProbe = nlist the probe scans every list, so the
    // composed path is bit-identical to topKSq8 and shares its
    // quantize → decode → cosine oracle replay
    // the composed IVF-SQ8 index at nProbe = nlist ≡ brute-force SQ8
    Q("q_ann_ivf_sq8", (s, d) => {
      graft.operators.Ann.writeIvfSq8Index(table(s, d, "embeddings"),
        "graft_ivf_sq8", nlist = 16)
      graft.operators.Ann.ivfTopKSq8AgainstIndex(s, "graft_ivf_sq8",
        queryId = 0L, k = 20, nProbe = 16)
    }, annTopkSq8OracleSql)
  )

  private lazy val qAnnTopk: Q = Q("q_ann_topk", (s, d) =>
    graft.operators.Ann.topK(table(s, d, "embeddings"), queryId = 0, k = 20), annTopkOracleSql)

  private lazy val qAnnMmr: Q = Q("q_ann_mmr", (s, d) =>
    graft.operators.Ann.mmrTopK(table(s, d, "embeddings"), queryId = 0,
      kCand = 20, kOut = 8, lambda = 0.7), annMmrOracleSql(kCand = 20, kOut = 8))

  private lazy val qAnnIvfIndexed: Q = Q("q_ann_ivf_indexed", (s, d) => {
    graft.operators.Ann.writeIvfIndex(table(s, d, "embeddings"),
      "graft_ivf_index", nlist = 16)
    graft.operators.Ann.ivfTopKAgainstIndex(s, "graft_ivf_index",
      queryId = 0, k = 20, nProbe = 16)
    }, annTopkOracleSql)

  /** Brute-force cosine pairs at 0.45 — oracle for q_embed_neardup (same
    * algorithm) and q_embed_neardup_lsh (LSH recall-equality proof).
    */
  private def neardupOracleSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |           / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, ROUND(cos, 6) AS cos
      |FROM pairs WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin

  /** Brute-force cosine top-20 for vec_id 0 — oracle for q_ann_topk (same
    * algorithm) and q_ann_ivf (nProbe = nlist ≡ brute force).
    */
  private def annTopkOracleSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id,
      |         list_sum(list_transform(range(1, len(e.embedding)+1),
      |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
      |         sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne,
      |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
      |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
      |  FROM embeddings e, q)
      |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
      |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin

  /** MMR rerank replay: the brute-force top-`kCand` candidate pool (query
    * row excluded), pairwise candidate cosines, then the `kOut` greedy
    * selection steps UNROLLED as a CTE chain (the LTTB-oracle technique —
    * a sequential algorithm replayed as sK/selK stages). All arithmetic
    * mirrors `Ann.mmrTopK` bit-for-bit: left-to-right double dot folds,
    * `CAST(0.7 AS DOUBLE)` for λ (verified bit-identical to the JVM
    * literal), `1−λ` as an explicit double subtraction (0.3 differs from
    * 1.0−0.7 in the last ulp), round-6 before each argmax, vec_id ties.
    */
  private def annMmrOracleSql(kCand: Int, kOut: Int): String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val mu = s"(CAST(1 AS DOUBLE) - $lam)"
    // every CTE is MATERIALIZED: the selK chain references sel(K-1)
    // multiple times, and DuckDB's default inlining makes the expansion
    // exponential in kOut (measured: minutes at kOut=8; instant
    // materialized)
    val steps = (2 to kOut).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT c.vec_id,
         |         ROUND($lam * c.rawcos - $mu *
         |           (SELECT MAX(p.p) FROM ps p WHERE p.ia = c.vec_id
         |              AND p.ib IN (SELECT vec_id FROM sel${k - 1})), 6) AS mmr
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT vec_id FROM sel${k - 1} UNION ALL SELECT vec_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to kOut).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, vec_id, mmr FROM s$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, e.embedding,
       |         list_sum(list_transform(range(1, len(e.embedding)+1),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
       |         sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne,
       |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
       |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
       |  FROM embeddings e, q WHERE e.vec_id <> 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, embedding, ne, d/(ne*nq) AS rawcos
       |  FROM scored ORDER BY ROUND(d/(ne*nq), 6) DESC, vec_id ASC LIMIT $kCand),
       |ps AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         list_sum(list_transform(range(1, len(a.embedding)+1),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |           / (a.ne * b.ne) AS p
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT vec_id, ROUND($lam * rawcos, 6) AS mmr
       |       FROM cand ORDER BY mmr DESC, vec_id ASC LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT * FROM (
       |  $ranks
       |) ORDER BY rank""".stripMargin
  }

  /** Farthest-point traversal unrolled: stage r computes every remaining
    * point's min 6-dp distance to the selected set, takes the (mind DESC,
    * vec_id ASC) head, and appends it. MATERIALIZED for the same
    * exponential-inlining reason as the MMR chain.
    */
  private def kCentersOracleSql(k: Int): String = {
    val steps = (2 to k).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, e.ne,
         |         (SELECT MIN(ROUND(1 - list_sum(list_transform(range(1, len(e.embedding)+1),
         |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
         |            / (e.ne * c.ne), 6))
         |          FROM n c WHERE c.vec_id IN (SELECT vec_id FROM sel${r - 1})) AS mind
         |  FROM n e WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  ORDER BY mind DESC, e.vec_id ASC LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT vec_id FROM sel${r - 1} UNION ALL SELECT vec_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val ranks = (2 to k).map { r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, mind AS dist FROM s$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH n AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS ne
       |  FROM embeddings
       |  WHERE list_sum(list_transform(range(1, len(embedding)+1),
       |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) > 0),
       |s1 AS MATERIALIZED (SELECT vec_id FROM n ORDER BY vec_id ASC LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS rank, (SELECT vec_id FROM s1) AS vec_id,
       |         CAST(NULL AS DOUBLE) AS dist
       |  UNION ALL $ranks
       |) ORDER BY rank""".stripMargin
  }

  /** SQ8 replay: per-vector [mn, mx] int8 quantization, decode, then the
    * brute-force cosine — the same op order as `Ann.sq8Quant`/`sq8Dequant`
    * (floor((x−mn)/(mx−mn)·255 + 0.5), then mn + q/255·(mx−mn), all in
    * double), so the hash match covers the code path bit-for-bit.
    */
  private def annTopkSq8OracleSql: String =
    """WITH mm AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_min(embedding) AS DOUBLE) AS mn,
      |         CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id,
      |         CASE WHEN mx > mn THEN
      |           list_transform(embedding,
      |             x -> mn + FLOOR((CAST(x AS DOUBLE) - mn)/(mx - mn)*255 + 0.5)/255*(mx - mn))
      |         ELSE list_transform(embedding, x -> mn) END AS dq
      |  FROM mm),
      |n AS (SELECT vec_id, dq,
      |             sqrt(list_sum(list_transform(dq, x -> x*x))) AS nrm FROM d),
      |q AS (SELECT dq AS qe, nrm AS qn FROM n WHERE vec_id = 0)
      |SELECT e.vec_id,
      |       ROUND(list_sum(list_transform(range(1, len(e.dq)+1),
      |          i -> e.dq[i] * q.qe[i])) / (e.nrm * q.qn), 6) AS cos
      |FROM n e, q
      |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin
}
