package graft.queries

import org.apache.spark.sql.functions._

import graft.QDef
import graft.ext._
import graft.ext.TextHash.Sql

/** E01–E12: the LLM-pipeline extension operators over `documents` and
  * `embeddings` — dedup (exact / MinHash+LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute top-k + LSH
  * ANN), text analysis (lang-id, quality, tokens, fingerprints), and
  * multimodal plumbing. Oracles are generated from the same portable
  * primitives (md5-derived 48-bit hashes, sequential double folds) so
  * Spark and DuckDB agree bit-for-bit; the LSH ANN entry is
  * rows-only-checked (its quality gate is the recall spec).
  */
object ExtQueries {

  // ---- shared oracle fragments ---------------------------------------------

  /** e77's landed retrieval lists, one per (session, sf) — see the
    * query's comment. Sessions are tagged with a UUID held in a weak
    * identity map (not identityHashCode, which can collide or be
    * reused after GC), and the tag lands in the scratch path so two
    * live sessions never race on one dir. */
  private val e77SessionTag = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())
  private val e77RanksOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val norm = Sql.normText("text")
  private val toks = Sql.tokens("text")

  /** Distinct (doc_id, sh) shingle CTE. */
  private val shCte =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, unnest(${Sql.shingles("toks")}) AS sh
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)
       |)""".stripMargin

  /** Sequential-double-fold cosine between embedding columns a and b. */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(len($x)), k -> CAST($x[k+1] AS DOUBLE) * CAST($y[k+1] AS DOUBLE)), (p, q) -> p + q)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Fold dot for pre-cast DOUBLE[] columns (same grouping as dot_fold:
    * left-to-right products-then-sum — bit-identical across engines). */
  private def dotl(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), k -> $a[k+1] * $b[k+1]), (p, q) -> p + q)"

  private def cosl(a: String, b: String): String =
    s"${dotl(a, b)} / (sqrt(${dotl(a, a)}) * sqrt(${dotl(b, b)}))"

  /** ‖c‖²/2 with the same fold grouping as the Scala driver-side
    * `c.map(x*x).sum / 2`. */
  private def halfSql(c: String): String =
    s"(list_reduce(list_transform($c, x -> x * x), (p, q) -> p + q) / 2)"

  /** Shared ANN tail: exact-cosine scoring of (query_id, vec_id)
    * candidate pairs + the deterministic top-k re-rank (ties →
    * neighbor_id ASC) — identical in the e07 and e13 oracles. */
  private def rerankSql(cand: String, k: Int): String =
    s"""scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         ROUND(${cosl("qe.v", "e.v")}, 6) AS sim
       |  FROM $cand c JOIN emb qe ON qe.vec_id = c.query_id JOIN emb e ON e.vec_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored
       |) WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** e07 oracle: the FULL LSH ANN pipeline in SQL. The ±1 hyperplanes
    * are deterministic constants (Similarity.plane), embedded here as
    * literals, so DuckDB computes the identical buckets, candidates,
    * and re-rank — a complete independent twin, not a rows-only check. */
  private def annLshOracle(dim: Int, tables: Int, nbits: Int, k: Int): String = {
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${planesCte(dim, tables, nbits)},
       |q AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.query_id, b.vec_id FROM b
       |  JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id <> q.query_id),
       |${rerankSql("cand", k)}""".stripMargin
  }

  /** Shared planes-CTE fragment for the LSH oracles (e07, e16). */
  private def planesCte(dim: Int, tables: Int, nbits: Int): String = {
    val rows = (for (t <- 0 until tables; b <- 0 until nbits) yield {
      val pl = Similarity.plane(t, b, dim)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString(",")
      s"($t, $b, [$pl])"
    }).mkString(", ")
    s"""planes(tbl, bit, pl) AS (VALUES $rows),
       |b AS (
       |  SELECT e.vec_id, p.tbl,
       |         SUM(CASE WHEN ${dotl("e.v", "p.pl")} >= 0
       |                  THEN CAST(1 << p.bit AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bucket
       |  FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.tbl)""".stripMargin
  }

  /** e16 oracle: LSH-banded near-dup pairs — identical planes/buckets,
    * candidate pair join, exact cosine threshold. */
  private def nearDupLshOracle(threshold: Double, dim: Int, tables: Int,
      nbits: Int): String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${planesCte(dim, tables, nbits)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS i, b2.vec_id AS j FROM b a
       |  JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT i, j, sim FROM (
       |  SELECT c.i, c.j, ROUND(${cosl("ea.v", "eb.v")}, 6) AS sim
       |  FROM cand c JOIN emb ea ON ea.vec_id = c.i JOIN emb eb ON eb.vec_id = c.j
       |) WHERE sim >= $threshold ORDER BY i, j""".stripMargin

  /** One Lloyd round in SQL: assign each vector to its best centroid
    * (argmax of v·c − ‖c‖²/2; ties → larger cluster id, mirroring the
    * Scala array_max-over-struct), then rebuild centroids from the
    * order-independent FLOOR(x·1e6) integer sums. Empty clusters keep
    * their previous centroid (COALESCE), as the Scala trainer does. */
  private def kmeansIterSql(prev: String, aOut: String, cOut: String, dim: Int,
      embName: String = "emb"): String =
    s"""$aOut AS (SELECT vec_id, v, cl FROM (
       |  SELECT e.vec_id, e.v, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
       |  FROM $embName e CROSS JOIN $prev c) WHERE rn = 1),
       |__${cOut}_u AS (
       |  SELECT cl, g.d AS d, SUM(CAST(FLOOR(v[g.d + 1] * 1000000) AS BIGINT)) AS s, COUNT(*) AS n
       |  FROM $aOut, generate_series(0, ${dim - 1}) g(d) GROUP BY cl, g.d),
       |__${cOut}_l AS (
       |  SELECT cl, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY d) AS c
       |  FROM __${cOut}_u GROUP BY cl),
       |$cOut AS (SELECT p.cl, COALESCE(u.c, p.c) AS c
       |          FROM $prev p LEFT JOIN __${cOut}_l u ON u.cl = p.cl)""".stripMargin

  /** e26 oracle: the FULL SemDeDup pipeline in SQL — the e13 k-means
    * CTEs, final cluster assignment, then an intra-cluster lower-id
    * pair scan marking every vector whose cosine to an earlier
    * cluster-mate reaches the threshold. */
  private def semanticDedupOracle(threshold: Double, dim: Int, nlist: Int,
      iters: Int): String = {
    require(iters == 2, "oracle is written for the declared iters=2")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
       |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $nlist)),
       |${kmeansIterSql("c0", "a1", "c1", dim)},
       |${kmeansIterSql("c1", "a2", "c2", dim)},
       |idx AS (SELECT vec_id, v, cl FROM (
       |  SELECT e.vec_id, e.v, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
       |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1),
       |dups AS (SELECT DISTINCT b.vec_id FROM idx a JOIN idx b
       |  ON a.cl = b.cl AND a.vec_id < b.vec_id
       |  WHERE ROUND(${cosl("a.v", "b.v")}, 6) >= $threshold)
       |SELECT i.vec_id, i.cl AS cluster, d.vec_id IS NULL AS keep
       |FROM idx i LEFT JOIN dups d ON d.vec_id = i.vec_id
       |ORDER BY i.vec_id""".stripMargin
  }

  /** Shared SQ8 CTE fragment (e46, e47): unit-normalize, then
    * q_i = floor(u_i·127 + 0.5) — the identical op sequence (and thus
    * identical doubles) as Similarity.sq8Code. Codes are exact ints.
    * `sq8CodesFrag` assumes an `emb(vec_id, v DOUBLE[])` CTE upstream. */
  private val sq8CodesFrag: String =
    s"""nr AS (SELECT vec_id, v, sqrt(${dotl("v", "v")}) AS nrm FROM emb),
       |codes AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(FLOOR(x * 127.0 / nrm + 0.5) AS BIGINT)) AS code
       |FROM nr)""".stripMargin

  private val sq8CodesCte: String =
    "WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n" +
      sq8CodesFrag

  /** Integer dot of two code lists — exact, no rounding needed. */
  private def qdotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), k -> $a[k+1] * $b[k+1]), (p, q) -> p + q)"

  /** e47 oracle: the e13 IVF pipeline (deterministic k-means, probes,
    * candidates) with the re-rank swapped to the SQ8 integer score. */
  private def annIvfSq8Oracle(dim: Int, nlist: Int, nprobe: Int, iters: Int,
      k: Int, trainPred: String = "TRUE"): String = {
    // trainPred restricts the k-means TRAINING set (the e82 append
    // shape: the quantizer is trained at build and immutable after —
    // appended vectors code against it, never retrain it); assignment,
    // probing and scoring always run over the full corpus
    require(iters == 2, "oracle is written for the declared iters=2")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |embt AS (SELECT * FROM emb WHERE $trainPred),
       |$sq8CodesFrag,
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
       |       FROM (SELECT vec_id, v FROM embt ORDER BY vec_id LIMIT $nlist)),
       |${kmeansIterSql("c0", "a1", "c1", dim, "embt")},
       |${kmeansIterSql("c1", "a2", "c2", dim, "embt")},
       |idx AS (SELECT vec_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
       |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${halfSql("c.c")} - ${dotl("e.v", "c.c")}) ASC, c.cl ASC) AS rn
       |  FROM emb e CROSS JOIN c2 c WHERE e.vec_id < 10) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, i.vec_id FROM idx i
       |  JOIN probe p ON i.cl = p.cl AND i.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         ${qdotSql("cq.code", "ce.code")} AS qdot
       |  FROM cand c JOIN codes cq ON cq.vec_id = c.query_id
       |              JOIN codes ce ON ce.vec_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, qdot FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
       |  FROM scored
       |) WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** e48 oracle: the FULL PQ-ADC pipeline in SQL — per subspace, slice
    * the corpus, run the same deterministic k-means (seeds = lowest
    * vec_ids of the slice, quantized Lloyd rounds), assign codes; then
    * ADC-score (query slice · coded centroid) as FLOOR(·1e6) integer
    * terms whose sum is order-independent, and re-rank. */
  private def annPqOracle(dim: Int, m: Int, ks: Int, iters: Int,
      k: Int, shortlist: Int): String = {
    require(iters == 2, "oracle is written for the declared iters=2")
    val dsub = dim / m
    val subCtes = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"""semb$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM emb),
         |c0_$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
         |       FROM (SELECT vec_id, v FROM semb$s ORDER BY vec_id LIMIT $ks)),
         |${kmeansIterSql(s"c0_$s", s"a1_$s", s"c1_$s", dsub, s"semb$s")},
         |${kmeansIterSql(s"c1_$s", s"a2_$s", s"c2_$s", dsub, s"semb$s")},
         |code$s AS (SELECT vec_id, cl FROM (
         |  SELECT e.vec_id, c.cl,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
         |  FROM semb$s e CROSS JOIN c2_$s c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val terms = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"""SELECT q.query_id, cd.vec_id,
         |       CAST(FLOOR(${dotl("q.v[" + lo + ":" + hi + "]", "c.c")} * 1000000) AS BIGINT) AS t
         |FROM q CROSS JOIN code$s cd JOIN c2_$s c ON c.cl = cd.cl
         |WHERE cd.vec_id <> q.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       |nr0 AS (SELECT vec_id, v0, sqrt(${dotl("v0", "v0")}) AS nrm FROM emb0),
       |emb AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr0),
       |$subCtes,
       |q AS (SELECT vec_id AS query_id, v FROM emb WHERE vec_id < 10),
       |adcscored AS (
       |  SELECT query_id, vec_id, SUM(t) AS adc FROM (
       |$terms
       |  ) GROUP BY 1, 2),
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS arank
       |  FROM adcscored
       |) WHERE arank <= $shortlist),
       |${rerankSql("cand", k)}""".stripMargin
  }

  /** e49 oracle: the e13 k-means assignment + a per-cluster salted-hash
    * rank capped at `cap` — cluster-balanced keep flags. */
  private def clusterSampleOracle(dim: Int, nlist: Int, iters: Int,
      cap: Int, salt: String): String = {
    require(iters == 2, "oracle is written for the declared iters=2")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
       |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $nlist)),
       |${kmeansIterSql("c0", "a1", "c1", dim)},
       |${kmeansIterSql("c1", "a2", "c2", dim)},
       |idx AS (SELECT vec_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
       |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1)
       |SELECT vec_id, cluster, rk <= $cap AS keep FROM (
       |  SELECT vec_id, cl AS cluster,
       |         row_number() OVER (PARTITION BY cl
       |           ORDER BY ${Sql.hash48("CAST(vec_id AS VARCHAR)", s"'$salt'")}, vec_id) AS rk
       |  FROM idx)
       |ORDER BY vec_id""".stripMargin
  }

  /** e13 oracle: the FULL IVF pipeline in SQL — deterministic k-means
    * (seeds = lowest vec_ids, `iters` quantized Lloyd rounds), final
    * cluster assignment, nprobe probes per query (argmin ties → smaller
    * cluster id), candidate join, exact cosine re-rank. */
  private def annIvfOracle(dim: Int, nlist: Int, nprobe: Int, iters: Int,
      k: Int): String = {
    require(iters == 2, "oracle is written for the declared iters=2")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
       |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $nlist)),
       |${kmeansIterSql("c0", "a1", "c1", dim)},
       |${kmeansIterSql("c1", "a2", "c2", dim)},
       |idx AS (SELECT vec_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
       |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (${halfSql("c.c")} - ${dotl("e.v", "c.c")}) ASC, c.cl ASC) AS rn
       |  FROM emb e CROSS JOIN c2 c WHERE e.vec_id < 10) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, i.vec_id FROM idx i
       |  JOIN probe p ON i.cl = p.cl AND i.vec_id <> p.query_id),
       |${rerankSql("cand", k)}""".stripMargin
  }

  /** Shared MinHash+LSH candidate pipeline (shingle → 16 min-hashes →
    * 4 band signatures → bucket-join candidates → intersection sizes),
    * spliced into the e02 pair query and the e14 grouping query; the
    * candidate-pair condition is a parameter so the e31 incremental
    * (new-batch × corpus) variant reuses the identical signatures. */
  private def minhashCtesWith(candCond: String) =
    s"""$shCte,
       |hs AS (SELECT doc_id, g.i AS i, min(${Sql.hash48("sh", "CAST(g.i AS VARCHAR)")}) AS minh
       |       FROM sh, generate_series(0, 15) g(i) GROUP BY doc_id, g.i),
       |bk AS (SELECT doc_id, (i // 4) AS band,
       |       string_agg(CAST(minh AS VARCHAR), '-' ORDER BY i) AS sig FROM hs GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bk a
       |         JOIN bk b ON a.band = b.band AND a.sig = b.sig AND $candCond),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.i, c.j, COUNT(*) AS m FROM cand c
       |          JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND a.sh = b.sh
       |          GROUP BY 1, 2)""".stripMargin

  private val minhashCtes = minhashCtesWith("a.doc_id < b.doc_id")

  private def langScore(terms: Seq[String]): String =
    terms.map { t =>
      s"CAST((length(p) - length(replace(p, '$t', ''))) / ${t.length} AS BIGINT)"
    }.mkString(" + ")

  val defs: Seq[QDef] = Seq(
    QDef(
      "e01_exact_dedup",
      (s, dir) => Dedup.exactDedupSummary(graft.model.Tables.load(s, s"$dir/documents.parquet")),
      Some(s"""SELECT COUNT(*) AS docs, COUNT(DISTINCT md5($norm)) AS uniq,
              |       COUNT(*) - COUNT(DISTINCT md5($norm)) AS dups FROM documents""".stripMargin)
    ),
    QDef(
      "e02_minhash_lsh",
      (s, dir) =>
        Dedup.minHashNearDups(graft.model.Tables.load(s, s"$dir/documents.parquet"),
            k = 16, bands = 4, threshold = 0.8)
          .orderBy("i", "j"),
      Some(s"""WITH $minhashCtes
              |SELECT i, j, ROUND(m * 1.0 / (si.n + sj.n - m), 4) AS jaccard
              |FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      "e14_dedup_groups",
      // near-dup clustering: connected components over the e02 pair
      // graph; group_id = min reachable doc_id (keep-list key)
      (s, dir) =>
        Dedup.nearDupGroups(
            Dedup.minHashNearDups(graft.model.Tables.load(s, s"$dir/documents.parquet"),
              k = 16, bands = 4, threshold = 0.8))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $minhashCtes,
              |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8),
              |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
              |reach(a, b) AS (SELECT a, b FROM edges
              |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a)
              |SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id
              |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      "e03_simhash",
      (s, dir) =>
        Dedup.simHashNearDups(graft.model.Tables.load(s, s"$dir/documents.parquet"), maxHamming = 6)
          .orderBy("i", "j"),
      Some {
        val votes = (0 until 32)
          .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
          .mkString(", ")
        val fp = (0 until 32)
          .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tk AS (SELECT DISTINCT doc_id, unnest($toks) AS tok FROM documents),
           |h AS (SELECT doc_id, ${Sql.hash48("tok", "'sim'")} AS h FROM tk),
           |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
           |f AS (SELECT doc_id, $fp AS simhash FROM v)
           |SELECT a.doc_id AS i, b.doc_id AS j, bit_count(xor(a.simhash, b.simhash)) AS hamming
           |FROM f a JOIN f b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6 ORDER BY i, j""".stripMargin
      }
    ),
    QDef(
      "e04_ngram_jaccard",
      (s, dir) =>
        Dedup.ngramJaccardPairs(graft.model.Tables.load(s, s"$dir/documents.parquet"),
            maxId = 100, threshold = 0.02)
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
              |shx AS (SELECT * FROM sh WHERE doc_id < 100),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY 1),
              |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS m FROM shx a
              |          JOIN shx b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
              |SELECT i, j, ROUND(m * 1.0 / (si.n + sj.n - m), 4) AS jaccard
              |FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |WHERE m * 1.0 / (si.n + sj.n - m) >= 0.02 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      "e05_embed_near_dup",
      (s, dir) =>
        Similarity.embeddingNearDups(graft.model.Tables.load(s, s"$dir/embeddings.parquet"), 0.45)
          .orderBy("i", "j"),
      Some(s"""SELECT i, j, sim FROM (
              |  SELECT a.vec_id AS i, b.vec_id AS j,
              |         ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
              |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |) WHERE sim >= 0.45 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      "e06_ann_brute_topk",
      (s, dir) =>
        Similarity.bruteTopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(s"""SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT query_id, neighbor_id, sim,
              |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              |           ROUND(${cosSql("q.embedding", "e.embedding")}, 6) AS sim
              |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
              |    WHERE q.vec_id < 10
              |  )
              |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),
    QDef(
      // margin-based bitext mining (Similarity.marginMine scaladoc):
      // even vec_ids < 40 are the source side, odd vec_ids the target
      // corpus; per-pair 6-dp sims quantized to integer micro-units so
      // the k-neighborhood sums are order-independent and the margin
      // is one double division of exact integers.
      "e61_margin_bitext",
      (s, dir) =>
        Similarity.marginMine(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") % 2 === 0 && col("vec_id") < 40,
            col("vec_id") % 2 === 1, k = 4)
          .orderBy("src_id"),
      Some(s"""WITH p AS (
              |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
              |         ROUND(${cosSql("s.embedding", "t.embedding")}, 6) AS sim
              |  FROM embeddings s JOIN embeddings t ON t.vec_id % 2 = 1
              |  WHERE s.vec_id % 2 = 0 AND s.vec_id < 40),
              |q AS (
              |  SELECT *, CAST(ROUND(sim * 1000000, 0) AS BIGINT) AS simq,
              |         row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rs,
              |         row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rt
              |  FROM p),
              |ss AS (SELECT src_id, CAST(SUM(simq) AS BIGINT) AS ksum_src
              |       FROM q WHERE rs <= 4 GROUP BY 1),
              |st AS (SELECT tgt_id, CAST(SUM(simq) AS BIGINT) AS ksum_tgt
              |       FROM q WHERE rt <= 4 GROUP BY 1),
              |c AS (
              |  SELECT q.src_id, q.tgt_id, q.sim,
              |         CAST(FLOOR(8 * CAST(simq AS DOUBLE)
              |           / CAST(ksum_src + ksum_tgt AS DOUBLE) * 1000000) AS BIGINT) AS margin_q
              |  FROM q JOIN ss USING (src_id) JOIN st USING (tgt_id)
              |  WHERE rs <= 4 AND ksum_src + ksum_tgt > 0),
              |m AS (
              |  SELECT *, row_number() OVER (PARTITION BY src_id
              |           ORDER BY margin_q DESC, tgt_id) AS best
              |  FROM c)
              |SELECT src_id, tgt_id, sim, margin_q FROM m
              |WHERE best = 1 AND margin_q >= 1000000 ORDER BY src_id""".stripMargin)
    ),
    QDef(
      "e07_ann_lsh",
      // full oracle: the identical deterministic planes are embedded in
      // the SQL, so DuckDB re-derives buckets → candidates → re-rank
      // independently (recall-vs-brute is additionally gated in ExtSpec)
      (s, dir) =>
        Similarity.annTopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(annLshOracle(dim = 64, tables = 12, nbits = 6, k = 5))
    ),
    QDef(
      "e13_ann_ivf",
      // full oracle: DuckDB re-trains the same deterministic k-means
      // (integer-quantized updates make the centroids bit-identical)
      // and re-derives probes → candidates → re-rank
      (s, dir) =>
        Similarity.annIvfTopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(annIvfOracle(dim = 64, nlist = 16, nprobe = 4, iters = 2, k = 5))
    ),
    QDef(
      // exact-dedup keep-list: min doc_id per fingerprint group — the
      // batch twin of Dedup.streamDedup (stream twin spec-tested in
      // StreamSpec: first-arrival-wins within the watermark).
      "e15_dedup_keep",
      (s, dir) =>
        Dedup.exactDedupKeep(graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("fp"),
      Some(s"""SELECT md5($norm) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
              |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)
    ),
    QDef(
      // LSH-banded embedding near-dup PAIRS — the scale path for e05
      // (candidates-only bucket join, exact cosine verify), with the
      // full pipeline mirrored in the oracle via the literal planes.
      "e16_embed_near_dup_lsh",
      (s, dir) =>
        Similarity.embeddingNearDupsLsh(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"), 0.45)
          .orderBy("i", "j"),
      Some(nearDupLshOracle(0.45, dim = 64, tables = 12, nbits = 6))
    ),
    QDef(
      // SemDeDup-style semantic dedup: IVF-cluster the corpus, drop
      // vectors whose cosine to a lower-id cluster-mate >= threshold.
      "e26_semantic_dedup",
      (s, dir) =>
        Similarity.semanticDedup(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"), 0.9)
          .orderBy("vec_id"),
      Some(semanticDedupOracle(0.9, dim = 64, nlist = 16, iters = 2))
    ),
    QDef(
      // incremental (cross-corpus) near-dup: the NEW batch (doc_id >=
      // 250) checked against the ACCEPTED corpus (doc_id < 250) via the
      // same MinHash signature index — the continuous-ingest dedup
      // shape (the batch broadcasts; the corpus index never shuffles).
      "e31_incremental_dedup",
      (s, dir) =>
        Dedup.incrementalNearDups(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            col("doc_id") >= 250, k = 16, bands = 4, threshold = 0.8)
          .orderBy("i", "j"),
      Some(s"""WITH ${minhashCtesWith("a.doc_id >= 250 AND b.doc_id < 250")}
              |SELECT i, j, ROUND(m * 1.0 / (si.n + sj.n - m), 4) AS jaccard
              |FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      // persisted dedup index: e31's semantics through the durable
      // artifact — corpus signatures built ONCE into a (band, sig)-
      // bucketed table, the arriving batch broadcast against it (the
      // index scans but never shuffles). Same oracle as e31: the index
      // is a layout, not a semantics change.
      "e32_dedup_index",
      (s, dir) => {
        val all = graft.model.Tables.load(s, s"$dir/documents.parquet")
        val tmp = graft.Queries.scratchDir("dix_q")
        graft.ext.DedupIndex.build(
          all.filter(col("doc_id") < 250).select("doc_id", "text"),
          "e32_dedup_index_tbl", s"$tmp/idx", k = 16, bands = 4, buckets = 8)
        graft.ext.DedupIndex.query(s, "e32_dedup_index_tbl",
            all.filter(col("doc_id") >= 250).select("doc_id", "text"),
            k = 16, bands = 4, threshold = 0.8)
          .orderBy("i", "j")
      },
      Some(s"""WITH ${minhashCtesWith("a.doc_id >= 250 AND b.doc_id < 250")}
              |SELECT i, j, ROUND(m * 1.0 / (si.n + sj.n - m), 4) AS jaccard
              |FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      // sub-document exact dedup: 20-token segments dedup globally
      // (first occurrence by (doc_id, idx) wins), docs reassemble from
      // surviving segments — C4-style "paragraph" dedup for corpora
      // without paragraph structure.
      "e29_segment_dedup",
      (s, dir) =>
        Dedup.segmentDedup(graft.model.Tables.load(s, s"$dir/documents.parquet"), width = 20)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
              |segs AS (
              |  SELECT doc_id, u.idx AS idx, u.seg AS seg FROM (
              |    SELECT doc_id, unnest(list_transform(range(CAST(ceil(len(toks) / 20.0) AS BIGINT)),
              |      i -> struct_pack(idx := i, seg := array_to_string(toks[CAST(i*20+1 AS BIGINT):CAST(i*20+20 AS BIGINT)], ' ')))) AS u
              |    FROM t)
              |),
              |marked AS (
              |  SELECT doc_id, idx, seg,
              |         (row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, idx)) = 1 AS keep
              |  FROM segs)
              |SELECT doc_id, COUNT(*) AS n_segs,
              |       COUNT(CASE WHEN keep THEN 1 END) AS kept_segs,
              |       COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY idx), '') AS dedup_text
              |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // k-NN graph: every vector's top-5 approximate neighbors via the
      // LSH self-join (all-queries form of e07 — the corpus is the
      // query set, so candidates come from a bucket SELF-join, not a
      // broadcast). Full oracle: identical literal planes.
      "e30_knn_graph",
      (s, dir) =>
        Similarity.knnGraph(graft.model.Tables.load(s, s"$dir/embeddings.parquet"), k = 5)
          .orderBy("query_id", "rank"),
      Some {
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${planesCte(dim = 64, tables = 12, nbits = 6)},
           |q AS (SELECT vec_id AS query_id, tbl, bucket FROM b),
           |cand AS (
           |  SELECT DISTINCT q.query_id, b.vec_id FROM b
           |  JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id <> q.query_id),
           |${rerankSql("cand", 5)}""".stripMargin
      }
    ),
    QDef(
      // STREAMING incremental dedup: the arriving shard flows through
      // Structured Streaming (file source, availableNow) and stream-
      // static joins the persisted signature index — stateless append
      // mode, so the perpetual form runs with zero state growth. The
      // consumer-side pair dedup (at most `bands` copies per match) is
      // a batch groupBy here. Same oracle as e31/e32: execution mode,
      // not semantics.
      "e33_stream_dedup",
      (s, dir) => {
        val all = graft.model.Tables.load(s, s"$dir/documents.parquet")
        val tmp = graft.Queries.scratchDir("dix_sq")
        graft.ext.DedupIndex.build(
          all.filter(col("doc_id") < 250).select("doc_id", "text"),
          "e33_stream_dedup_tbl", s"$tmp/idx", k = 16, bands = 4, buckets = 8)
        all.filter(col("doc_id") >= 250).select("doc_id", "text")
          .write.parquet(s"$tmp/arrivals")
        val stream = s.readStream
          .schema("doc_id BIGINT, text STRING").parquet(s"$tmp/arrivals")
        val matches = graft.ext.DedupIndex.streamQuery(
          s, "e33_stream_dedup_tbl", stream, k = 16, bands = 4, threshold = 0.8)
        graft.stream.WalStream.runAvailableNow(matches, "e33_sink", mode = "append")
          .groupBy("i", "j").agg(min(col("jaccard")).as("jaccard"))
          .orderBy("i", "j")
      },
      Some(s"""WITH ${minhashCtesWith("a.doc_id >= 250 AND b.doc_id < 250")}
              |SELECT i, j, ROUND(m * 1.0 / (si.n + sj.n - m), 4) AS jaccard
              |FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8 ORDER BY i, j""".stripMargin)
    ),
    QDef(
      // ExactSubstr dedup (Lee et al. 2022), word-token windows of 20:
      // windows repeated verbatim anywhere in the corpus are removed
      // from all but their first (doc_id, pos) occurrence; covered
      // tokens cut, survivors reassemble. Differs from e29 in that
      // windows SLIDE (every duplicated span is caught regardless of
      // alignment), the paper's headline property.
      "e34_substring_dedup",
      (s, dir) =>
        Dedup.substringDedup(
            graft.model.Tables.load(s, s"$dir/documents.parquet"), k = 20)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
              |tok AS (
              |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
              |    SELECT doc_id, unnest(list_transform(range(len(toks)),
              |      i -> struct_pack(pos := i, tok := toks[CAST(i+1 AS BIGINT)]))) AS u
              |    FROM t)),
              |sh AS (
              |  SELECT doc_id, u.pos AS pos, md5(u.seg) AS fp FROM (
              |    SELECT doc_id, unnest(list_transform(range(CASE WHEN len(toks) >= 20 THEN len(toks) - 19 ELSE 0 END),
              |      i -> struct_pack(pos := i, seg := array_to_string(toks[CAST(i+1 AS BIGINT):CAST(i+20 AS BIGINT)], ' ')))) AS u
              |    FROM t)),
              |occ AS (
              |  SELECT doc_id, pos,
              |         COUNT(*) OVER (PARTITION BY fp) AS n,
              |         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rk
              |  FROM sh),
              |cov AS (SELECT DISTINCT doc_id, pos FROM (
              |  SELECT doc_id, unnest(range(pos, pos + 20)) AS pos FROM occ
              |  WHERE n > 1 AND rk > 1) c),
              |flag AS (
              |  SELECT tok.doc_id, tok.pos, tok.tok, cov.pos IS NOT NULL AS cut
              |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos)
              |SELECT doc_id, COUNT(*) AS n_tokens,
              |       COUNT(CASE WHEN NOT cut THEN 1 END) AS kept_tokens,
              |       COALESCE(string_agg(CASE WHEN NOT cut THEN tok END, ' ' ORDER BY pos), '') AS dedup_text
              |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      "e08_lang_id",
      (s, dir) =>
        TextAnalysis.langId(graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("doc_id"),
      Some {
        val scores = TextAnalysis.profiles
          .map { case (l, ts) => s"${langScore(ts)} AS s_$l" }.mkString(", ")
        s"""WITH p AS (SELECT doc_id, ' ' || $norm || ' ' AS p FROM documents),
           |s AS (SELECT doc_id, $scores FROM p)
           |SELECT doc_id, s_en, s_de, s_fr, s_es,
           |       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           |            WHEN s_fr >= s_es THEN 'fr'
           |            ELSE 'es' END AS pred_lang
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ),
    QDef(
      "e09_quality_score",
      (s, dir) =>
        TextAnalysis.qualityScore(graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("doc_id"),
      Some {
        val stop = langScore(TextAnalysis.profiles.flatMap(_._2))
        s"""SELECT doc_id, n_chars, n_tokens,
           |       ROUND(length(regexp_replace(n, '[^a-z0-9]', '', 'g')) * 1.0 / length(n), 4) AS alpha_ratio,
           |       ROUND(stop_hits * 1.0 / n_tokens, 4) AS stop_ratio,
           |       ROUND(LEAST(1.0, n_tokens / 100.0) * (1 - stop_hits * 1.0 / n_tokens), 4) AS quality
           |FROM (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |         CAST(len($toks) AS BIGINT) AS n_tokens,
           |         $norm AS n, $stop AS stop_hits
           |  FROM (SELECT doc_id, text, ' ' || $norm || ' ' AS p FROM documents)
           |) ORDER BY doc_id""".stripMargin
      }
    ),
    QDef(
      "e10_token_stats",
      (s, dir) =>
        TextAnalysis.tokenStats(graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(len($toks) AS BIGINT) AS ws_tokens,
              |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
              |       CAST(len(list_distinct($toks)) AS BIGINT) AS distinct_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      "e11_fingerprint",
      (s, dir) =>
        TextAnalysis.fingerprints(graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5($norm) AS md5_fp,
              |       list_min(list_transform(${Sql.shingles("toks")}, sh -> ${Sql.hash48("sh", "'w'")})) AS winnow_min
              |FROM (SELECT doc_id, text, $toks AS toks FROM documents) ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      "e12_multimodal",
      (s, dir) =>
        Multimodal.extractFeatures(
            Multimodal.ingest(graft.model.Tables.load(s, s"$dir/documents.parquet")))
          .toDF()
          .orderBy("doc_id"),
      // blob_len counts BYTES of the UTF-8 payload (octet_length of the
      // encoded blob), first_byte is the first character's code point —
      // both agree with the Spark stub for non-ASCII text too
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
             |       CAST(CEIL(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames,
             |       CAST(16 + doc_id % 64 AS INT) AS width,
             |       CAST(16 + doc_id % 48 AS INT) AS height,
             |       ascii(substr(text, 1, 1)) AS first_byte
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // the full dedup stack as one verdict: URL keeper × exact-text
      // keeper × near-dup canonical (Dedup.dedupStack scaladoc). The
      // URL fixture is e36's synthesized messy URL; its canonical form
      // is closed-form (the canonicalization law is pinned by e36), so
      // the oracle constructs it analytically and recomposes the
      // e01/e39 fragments for the other two gates.
      "e70_dedup_stack",
      (s, dir) => {
        val url = format_string(
          "HTTPS://WWW.%s.Example.COM:443/p/%d/?utm_source=s%d&id=%d",
          col("source"), pmod(col("doc_id"), lit(25)),
          pmod(col("doc_id"), lit(3)), pmod(col("doc_id"), lit(100)))
        Dedup.dedupStack(
            graft.model.Tables.load(s, s"$dir/documents.parquet")
              .withColumn("url", url),
            col("url"))
          .orderBy("doc_id")
      },
      Some {
        val stop = langScore(TextAnalysis.profiles.flatMap(_._2))
        s"""WITH RECURSIVE $minhashCtes,
           |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
           |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8),
           |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
           |reach(a, b) AS (SELECT a, b FROM edges
           |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
           |grp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
           |q AS (
           |  SELECT doc_id, ROUND(LEAST(1.0, n_tokens / 100.0) * (1 - stop_hits * 1.0 / n_tokens), 4) AS quality
           |  FROM (
           |    SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens, $stop AS stop_hits
           |    FROM (SELECT doc_id, text, ' ' || $norm || ' ' AS p FROM documents))),
           |nk AS (
           |  SELECT doc_id, group_id,
           |         row_number() OVER (PARTITION BY group_id ORDER BY quality DESC, doc_id) = 1 AS near_keeper
           |  FROM (
           |    SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id, q.quality
           |    FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id JOIN q ON q.doc_id = d.doc_id)),
           |uk AS (
           |  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY canon) AS url_keeper FROM (
           |    SELECT doc_id, printf('https://%s.example.com/p/%d?id=%d',
           |                          source, doc_id % 25, doc_id % 100) AS canon
           |    FROM documents)),
           |ek AS (
           |  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5($norm)) AS exact_keeper
           |  FROM documents)
           |SELECT doc_id, url_keeper, exact_keeper, group_id, near_keeper,
           |       url_keeper AND exact_keeper AND near_keeper AS kept
           |FROM uk JOIN ek USING (doc_id) JOIN nk USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }
    ),
    QDef(
      // memorization audit: the top-20 most-duplicated verbatim
      // 10-token spans with occurrence/document counts and the
      // canonical first occurrence (Dedup.memorizedSpans scaladoc) —
      // the report substringDedup acts on.
      "e68_memorized_spans",
      (s, dir) =>
        Dedup.memorizedSpans(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            k = 10, topN = 20)
          .orderBy("rank"),
      Some(s"""WITH t AS (SELECT doc_id, ${Sql.tokens("COALESCE(text, '')")} AS toks FROM documents),
              |sh AS (
              |  SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
              |    SELECT doc_id, unnest(list_transform(
              |      range(CASE WHEN len(toks) >= 10 THEN len(toks) - 9 ELSE 0 END),
              |      i -> struct_pack(pos := i,
              |        seg := array_to_string(toks[CAST(i+1 AS BIGINT):CAST(i+10 AS BIGINT)], ' ')))) AS u
              |    FROM t)),
              |cnt AS (
              |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
              |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              |  FROM sh GROUP BY seg),
              |fst AS (
              |  SELECT seg, doc_id AS first_doc, CAST(pos AS BIGINT) AS first_pos FROM (
              |    SELECT seg, doc_id, pos,
              |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
              |    FROM sh) WHERE rk = 1),
              |rep AS (SELECT * FROM cnt JOIN fst USING (seg) WHERE n_occurrences >= 2)
              |SELECT rank, seg, n_occurrences, n_docs, first_doc, first_pos FROM (
              |  SELECT *, CAST(row_number() OVER (ORDER BY n_occurrences DESC, seg) AS BIGINT) AS rank
              |  FROM rep)
              |WHERE rank <= 20 ORDER BY rank""".stripMargin)
    ),
    QDef(
      // REAL PNG decode pinned bit-exact: every doc gets an actual PNG
      // (imageio-encoded deterministic gradient, Multimodal
      // .syntheticPng's closed-form pixel law), PngCodec decodes it —
      // chunk walk, inflate, all five row filters — and the luma total
      // + 8×8 aHash must equal the oracle's ANALYTIC recomputation
      // from the pixel formula. No decoder in the oracle: if our
      // unfiltering were off by one sample anywhere, the integer luma
      // sum would diverge.
      "e59_image_hash",
      (s, dir) =>
        Multimodal.imageFeatures(Multimodal.ingestPng(
            graft.model.Tables.load(s, s"$dir/documents.parquet")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH px AS (
             |  SELECT doc_id, x, y,
             |         (doc_id * 3 + x * 7 + y * 11) % 256 AS r,
             |         (doc_id * 5 + x * 13 + y * 3) % 256 AS g,
             |         (doc_id * 7 + x + y * 5) % 256 AS b
             |  FROM documents, range(16) tx(x), range(16) ty(y)),
             |cell AS (
             |  SELECT doc_id, (y * 8 // 16) * 8 + (x * 8 // 16) AS c,
             |         CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT) AS s,
             |         CAST(COUNT(*) AS BIGINT) AS np
             |  FROM px GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t,
             |               CAST(SUM(np) AS BIGINT) AS n
             |        FROM cell GROUP BY 1),
             |hsh AS (
             |  SELECT cell.doc_id,
             |         string_agg(CASE WHEN s * n > t * np THEN '1' ELSE '0' END,
             |                    '' ORDER BY c) AS ahash
             |  FROM cell JOIN tot USING (doc_id) GROUP BY cell.doc_id)
             |SELECT h.doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
             |       CAST(3 AS INT) AS channels, t.t AS luma_total, h.ahash
             |FROM hsh h JOIN tot t USING (doc_id) ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // perceptual near-dup over REAL decoded pixels: banded aHash
      // bucket join (pigeonhole-complete at hamming ≤ 3 with 4 bands)
      // + exact hamming verify (Multimodal.imageNearDup scaladoc). The
      // oracle mirrors the banding analytically from the pixel law.
      "e60_image_near_dup",
      (s, dir) =>
        Multimodal.imageNearDup(Multimodal.ingestPng(
            graft.model.Tables.load(s, s"$dir/documents.parquet")),
            maxHamming = 3, bands = 4)
          .orderBy("a_id", "b_id"),
      Some("""WITH px AS (
             |  SELECT doc_id, x, y,
             |         (doc_id * 3 + x * 7 + y * 11) % 256 AS r,
             |         (doc_id * 5 + x * 13 + y * 3) % 256 AS g,
             |         (doc_id * 7 + x + y * 5) % 256 AS b
             |  FROM documents, range(16) tx(x), range(16) ty(y)),
             |cell AS (
             |  SELECT doc_id, (y * 8 // 16) * 8 + (x * 8 // 16) AS c,
             |         CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT) AS s,
             |         CAST(COUNT(*) AS BIGINT) AS np
             |  FROM px GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t,
             |               CAST(SUM(np) AS BIGINT) AS n
             |        FROM cell GROUP BY 1),
             |hsh AS (
             |  SELECT cell.doc_id,
             |         string_agg(CASE WHEN s * n > t * np THEN '1' ELSE '0' END,
             |                    '' ORDER BY c) AS ahash
             |  FROM cell JOIN tot USING (doc_id) GROUP BY cell.doc_id),
             |bands AS (
             |  SELECT doc_id, ahash, bd, substr(ahash, bd * 16 + 1, 16) AS slice
             |  FROM hsh, range(4) tb(bd)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |         a.ahash AS ha, b.ahash AS hb
             |  FROM bands a JOIN bands b
             |    ON a.bd = b.bd AND a.slice = b.slice AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, hamming FROM (
             |  SELECT a_id, b_id,
             |         CAST(len(list_filter(range(1, 65),
             |           i -> substr(ha, i, 1) <> substr(hb, i, 1))) AS BIGINT) AS hamming
             |  FROM cand)
             |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin)
    ),
    QDef(
      // MIXED PNG+JPEG corpus through ONE feature pipeline — the
      // web-corpus shape (JPEG dominates real crawls). Even doc ids
      // carry an imageio-encoded PNG of the e59 gradient law; odd ids
      // an imageio-encoded GRAYSCALE JPEG, piecewise-constant per 8×8
      // DCT block at quality 1.0 — constant blocks are DC-only and the
      // q1.0 quantizer is 1, so the LOSSY codec is exactly lossless on
      // the fixture and the oracle recomputes both formats' features
      // ANALYTICALLY (Multimodal.syntheticJpeg scaladoc; JpegCodecSpec
      // pins the bit-exactness). Decode dispatch: PNG → PngCodec
      // (from-spec), JPEG → JpegCodec (JDK platform decoder).
      "e81_jpeg_image_hash",
      (s, dir) =>
        Multimodal.imageFeatures(Multimodal.ingestMixed(
            graft.model.Tables.load(s, s"$dir/documents.parquet")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH px AS (
             |  SELECT doc_id, x, y,
             |         CASE WHEN doc_id % 2 = 0 THEN
             |           299 * ((doc_id * 3 + x * 7 + y * 11) % 256)
             |         + 587 * ((doc_id * 5 + x * 13 + y * 3) % 256)
             |         + 114 * ((doc_id * 7 + x + y * 5) % 256)
             |         ELSE
             |           1000 * ((doc_id * 3 + (x // 8) * 7 + (y // 8) * 11) % 256)
             |         END AS lq
             |  FROM documents, range(16) tx(x), range(16) ty(y)),
             |cell AS (
             |  SELECT doc_id, (y * 8 // 16) * 8 + (x * 8 // 16) AS c,
             |         CAST(SUM(lq) AS BIGINT) AS s,
             |         CAST(COUNT(*) AS BIGINT) AS np
             |  FROM px GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t,
             |               CAST(SUM(np) AS BIGINT) AS n
             |        FROM cell GROUP BY 1),
             |hsh AS (
             |  SELECT cell.doc_id,
             |         string_agg(CASE WHEN s * n > t * np THEN '1' ELSE '0' END,
             |                    '' ORDER BY c) AS ahash
             |  FROM cell JOIN tot USING (doc_id) GROUP BY cell.doc_id)
             |SELECT h.doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
             |       CASE WHEN h.doc_id % 2 = 0 THEN CAST(3 AS INT)
             |            ELSE CAST(1 AS INT) END AS channels,
             |       t.t AS luma_total, h.ahash
             |FROM hsh h JOIN tot t USING (doc_id) ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // REAL audio PCM decode (Multimodal.decodeAudio via the JDK's
      // javax.sound.sampled WAV plugin — the e81 imageio move for
      // sound): every doc carries a real WAV payload (mono for even
      // ids, stereo for odd) whose 16-bit samples follow a closed-form
      // integer law, written through the REAL platform WAVE encoder;
      // PCM-in-WAV is lossless, so the per-channel exact-integer
      // features (energy Σs², peak |s|, zero crossings, duration) must
      // equal the law — the oracle recomputes them analytically with
      // no decoder. Video payloads remain the documented decodeStub
      // boundary (no H.26x decoder in a pure JDK).
      "e83_audio_features",
      (s, dir) =>
        Multimodal.audioFeatures(Multimodal.ingestWav(
            graft.model.Tables.load(s, s"$dir/documents.parquet")))
          .toDF()
          .orderBy("doc_id", "channel"),
      Some("""WITH ch AS (
             |  SELECT doc_id, c FROM documents, range(2) tc(c)
             |  WHERE c < 1 + doc_id % 2),
             |px AS (
             |  SELECT doc_id, c, t,
             |         ((doc_id * 7919 + c * 104729 + t * 31337
             |           + doc_id * t * 271) % 65536) - 32768 AS s
             |  FROM ch, range(512) tt(t)),
             |f AS (
             |  SELECT doc_id, c,
             |         CAST(SUM(s * s) AS BIGINT) AS energy,
             |         CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
             |         CAST(SUM(CASE WHEN prev IS NOT NULL
             |                        AND ((s >= 0) <> (prev >= 0))
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
             |  FROM (SELECT *, LAG(s) OVER (PARTITION BY doc_id, c
             |                               ORDER BY t) AS prev FROM px)
             |  GROUP BY 1, 2)
             |SELECT doc_id, CAST(c AS INT) AS channel,
             |       CAST(8000 AS INT) AS sample_rate,
             |       CAST(512 AS BIGINT) AS n_samples,
             |       energy, peak_abs, zero_cross,
             |       CAST(64 AS BIGINT) AS duration_ms
             |FROM f ORDER BY doc_id, channel""".stripMargin)
    ),
    QDef(
      // banded perceptual AUDIO near-dup (the e60 move for sound —
      // Multimodal.audioNearDup over the 64-bit window-energy
      // fingerprint): doc pair (2k, 2k+1) shares one mono PCM payload
      // (the re-upload shape), so fingerprints collide at hamming 0;
      // candidates come from the (band, slice) self-join — lossless
      // below the band count by pigeonhole, never all-pairs — and the
      // oracle mirrors the same banding + exact hamming analytically
      // from the sample law, with no decoder.
      "e84_audio_near_dup",
      (s, dir) =>
        Multimodal.audioNearDup(Multimodal.ingestWavDup(
            graft.model.Tables.load(s, s"$dir/documents.parquet")),
            maxHamming = 3, bands = 4)
          .orderBy("a_id", "b_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, k, CAST(SUM(s * s) AS BIGINT) AS e
             |  FROM (SELECT doc_id, t // 8 AS k,
             |          (((doc_id - doc_id % 2) * 7919 + t * 31337
             |            + (doc_id - doc_id % 2) * t * 271) % 65536)
             |            - 32768 AS s
             |        FROM documents, range(512) tt(t))
             |  GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS te
             |        FROM w GROUP BY 1),
             |hsh AS (
             |  SELECT w.doc_id,
             |         string_agg(CASE WHEN e * 64 > te THEN '1' ELSE '0' END,
             |                    '' ORDER BY k) AS afp
             |  FROM w JOIN tot USING (doc_id) GROUP BY w.doc_id),
             |bands AS (
             |  SELECT doc_id, afp, bd, substr(afp, bd * 16 + 1, 16) AS slice
             |  FROM hsh, range(4) tb(bd)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |         a.afp AS ha, b.afp AS hb
             |  FROM bands a JOIN bands b
             |    ON a.bd = b.bd AND a.slice = b.slice AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, hamming FROM (
             |  SELECT a_id, b_id,
             |         CAST(len(list_filter(range(1, 65),
             |           i -> substr(ha, i, 1) <> substr(hb, i, 1))) AS BIGINT) AS hamming
             |  FROM cand)
             |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin)
    ),
    QDef(
      // REAL video frame decode (Multimodal.decodeVideoFrames — MJPEG
      // in a hand-built RIFF/AVI container, every frame an independent
      // imageio JPEG): per-frame aHash + luma + scene-cut detection
      // (hash delta vs the previous frame). The fixture law groups
      // frames into scenes of 4 identical DC-constant-block frames at
      // quality 1.0, so the LOSSY per-frame codec is exactly lossless
      // and the oracle recomputes every frame feature analytically —
      // the e81 contract extended along the time axis. Inter-frame
      // codings (H.26x/VP9/AV1) remain the documented decodeStub
      // boundary: no such decoder ships with a pure JDK.
      "e85_video_frame_hash",
      // a third of the corpus (doc_id % 3 = 0): the per-doc cost is
      // REAL video work — 8 JPEG encodes (fixture) + 8 decodes — and
      // the gate needs the path proven, not the full corpus paid
      (s, dir) =>
        Multimodal.videoFrameFeatures(Multimodal.ingestAvi(
            graft.model.Tables.load(s, s"$dir/documents.parquet")
              .filter(col("doc_id") % 3 === 0),
            nFrames = 8, w = 64, h = 64))
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      // 64×64 frames: each 8×8 DCT block IS one aHash cell (cell
      // c = by·8+bx, 64 px each), so the oracle works on the BLOCK law
      // directly — s = 64·1000·v, equal cell sizes reduce the
      // cross-multiplied threshold to s·64 > total
      Some("""WITH blk AS (
             |  SELECT doc_id, f, bx, by,
             |         (doc_id * 3 + (f // 4) * 17 + bx * 7 + by * 11
             |          + doc_id * (by * 8 + bx) * 13) % 256 AS v
             |  FROM (SELECT * FROM documents WHERE doc_id % 3 = 0) documents,
             |       range(8) tf(f), range(8) tbx(bx), range(8) tby(by)),
             |cell AS (
             |  SELECT doc_id, f, by * 8 + bx AS c,
             |         CAST(64000 * v AS BIGINT) AS s
             |  FROM blk),
             |tot AS (SELECT doc_id, f, CAST(SUM(s) AS BIGINT) AS t
             |        FROM cell GROUP BY 1, 2),
             |hsh AS (
             |  SELECT cell.doc_id, cell.f,
             |         string_agg(CASE WHEN s * 64 > t THEN '1' ELSE '0' END,
             |                    '' ORDER BY c) AS ahash
             |  FROM cell JOIN tot USING (doc_id, f) GROUP BY cell.doc_id, cell.f),
             |sc AS (
             |  SELECT doc_id, f, ahash,
             |         LAG(ahash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM hsh)
             |SELECT s.doc_id, CAST(s.f AS INT) AS frame_idx,
             |       CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
             |       t.t AS luma_total, s.ahash,
             |       (s.prev IS NOT NULL AND s.ahash <> s.prev) AS scene_cut
             |FROM sc s JOIN tot t ON t.doc_id = s.doc_id AND t.f = s.f
             |ORDER BY s.doc_id, frame_idx""".stripMargin)
    ),
    QDef(
      // banded perceptual VIDEO near-dup (the e60/e84 shape for video
      // — Multimodal.videoNearDup over the temporal-mean-frame aHash):
      // doc pair (2k, 2k+1) shares one MJPEG-in-AVI payload (the
      // re-upload shape), fingerprints collide at hamming 0; the
      // (band, slice) self-join prunes candidates losslessly by
      // pigeonhole, exact hamming verifies, and the oracle mirrors the
      // whole chain analytically from the frame law with no decoder.
      "e86_video_near_dup",
      // a third of the corpus, PAIR-SAFE: the dup pairs are (2k, 2k+1),
      // so doc_id % 6 < 2 keeps both members of every retained pair
      (s, dir) =>
        Multimodal.videoNearDup(Multimodal.ingestAviDup(
            graft.model.Tables.load(s, s"$dir/documents.parquet")
              .filter(col("doc_id") % 6 < 2)),
            maxHamming = 3, bands = 4)
          .orderBy("a_id", "b_id"),
      Some("""WITH blk AS (
             |  SELECT doc_id, f, bx, by,
             |         ((doc_id - doc_id % 2) * 3 + (f // 4) * 17
             |          + bx * 7 + by * 11
             |          + (doc_id - doc_id % 2) * (by * 8 + bx) * 13) % 256 AS v
             |  FROM (SELECT * FROM documents WHERE doc_id % 6 < 2) documents,
             |       range(8) tf(f), range(8) tbx(bx), range(8) tby(by)),
             |cell AS (
             |  SELECT doc_id, by * 8 + bx AS c,
             |         CAST(SUM(64000 * v) AS BIGINT) AS s
             |  FROM blk GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t
             |        FROM cell GROUP BY 1),
             |hsh AS (
             |  SELECT cell.doc_id,
             |         string_agg(CASE WHEN s * 64 > t THEN '1' ELSE '0' END,
             |                    '' ORDER BY c) AS vfp
             |  FROM cell JOIN tot USING (doc_id) GROUP BY cell.doc_id),
             |bands AS (
             |  SELECT doc_id, vfp, bd, substr(vfp, bd * 16 + 1, 16) AS slice
             |  FROM hsh, range(4) tb(bd)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |         a.vfp AS ha, b.vfp AS hb
             |  FROM bands a JOIN bands b
             |    ON a.bd = b.bd AND a.slice = b.slice AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, hamming FROM (
             |  SELECT a_id, b_id,
             |         CAST(len(list_filter(range(1, 65),
             |           i -> substr(ha, i, 1) <> substr(hb, i, 1))) AS BIGINT) AS hamming
             |  FROM cand)
             |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin)
    ),
    QDef(
      // leakage-safe split: train/val/test assignment by NEAR-DUP
      // GROUP, so near-copies never straddle the split boundary
      // (Dedup.leakageSafeSplit scaladoc). Oracle = e14's recursive-CTE
      // groups + e17's salted-hash bucketing, applied to the group id.
      "e45_leakage_safe_split",
      (s, dir) =>
        Dedup.leakageSafeSplit(
            graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $minhashCtes,
              |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
              |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8),
              |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
              |reach(a, b) AS (SELECT a, b FROM edges
              |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
              |grp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
              |g AS (SELECT d.doc_id, COALESCE(grp.group_id, d.doc_id) AS group_id
              |      FROM documents d LEFT JOIN grp ON grp.doc_id = d.doc_id)
              |SELECT doc_id, group_id,
              |       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
              |FROM (SELECT *, CAST(${Sql.hash48("CAST(group_id AS VARCHAR)", "'split'")} % 100 AS INT) AS b FROM g)
              |ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // cross-source overlap matrix: distinct shared shingles +
      // shingle-space Jaccard per source pair — the "who copied whom"
      // corpus diagnostic (Dedup.sourceOverlapMatrix scaladoc).
      "e44_source_overlap",
      (s, dir) =>
        Dedup.sourceOverlapMatrix(
            graft.model.Tables.load(s, s"$dir/documents.parquet"))
          .orderBy("src_a", "src_b"),
      Some(s"""WITH sh AS (
              |  SELECT DISTINCT source, ${Sql.hash48("sh", "'xsrc'")} AS h
              |  FROM (SELECT source, unnest(${Sql.shingles("toks")}) AS sh
              |        FROM (SELECT source, ${Sql.tokens("COALESCE(text, '')")} AS toks FROM documents))),
              |t AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
              |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
              |      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
              |      GROUP BY 1, 2)
              |SELECT src_a, src_b, shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
              |       ROUND(shared * 1.0 / (ta.n_sh + tb.n_sh - shared), 4) AS jaccard
              |FROM p JOIN t ta ON ta.source = src_a JOIN t tb ON tb.source = src_b
              |ORDER BY src_a, src_b""".stripMargin)
    ),
    QDef(
      // tf-idf top-3 salient terms per document; FLOOR(·1e6) score
      // quantization + term-ascending tie-break make the rank order
      // engine-independent (TextAnalysis.tfidfTopTerms scaladoc).
      "e37_tfidf_terms",
      (s, dir) =>
        TextAnalysis.tfidfTopTerms(
            graft.model.Tables.load(s, s"$dir/documents.parquet"), k = 3)
          .orderBy("doc_id", "rank"),
      Some(s"""WITH p AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
              |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM p GROUP BY doc_id, tok),
              |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents)
              |SELECT doc_id, rank, tok, score_q FROM (
              |  SELECT tf.doc_id, tf.tok,
              |         tf.tf * (CAST(FLOOR(1000.0 * ln(n.n_docs + 1.0) + 0.5) AS BIGINT) - CAST(FLOOR(1000.0 * ln(df.df + 1.0) + 0.5) AS BIGINT)) * 1000 AS score_q,
              |         row_number() OVER (PARTITION BY tf.doc_id
              |           ORDER BY tf.tf * (CAST(FLOOR(1000.0 * ln(n.n_docs + 1.0) + 0.5) AS BIGINT) - CAST(FLOOR(1000.0 * ln(df.df + 1.0) + 0.5) AS BIGINT)) * 1000 DESC,
              |                    tf.tok) AS rank
              |  FROM tf JOIN df USING (tok) CROSS JOIN n
              |) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)
    ),
    QDef(
      // CCNet-style perplexity terciles over the corpus-trained LM
      // score. exactNtile is the OPT-IN oracle path (rank terciles a
      // SQL ntile can recompute exactly); the library default is the
      // approx-percentile thresholds path, which never sorts globally
      // (TextAnalysis.pplBuckets scaladoc; PlanShapeSpec pins the
      // default plan has no single-partition window).
      "e38_ppl_buckets",
      (s, dir) =>
        TextAnalysis.pplBuckets(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            exactNtile = true)
          .orderBy("doc_id"),
      Some(s"""WITH p AS (
              |  SELECT doc_id, unnest($toks) AS tok FROM documents
              |), v AS (SELECT tok, COUNT(*) AS cnt FROM p GROUP BY tok),
              |tt AS (SELECT SUM(cnt) AS tot FROM v),
              |sc AS (
              |  SELECT p.doc_id,
              |         ROUND(SUM((CAST(FLOOR(1000.0 * ln(CAST(v.cnt AS DOUBLE)) + 0.5) AS BIGINT) - CAST(FLOOR(1000.0 * ln(CAST(tt.tot AS DOUBLE)) + 0.5) AS BIGINT)) * 1000)
              |               / (COUNT(*) * 1000000.0), 4) AS avg_logp
              |  FROM p JOIN v USING (tok) CROSS JOIN tt GROUP BY p.doc_id)
              |SELECT doc_id, avg_logp,
              |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
              |FROM (SELECT *, ntile(3) OVER (ORDER BY avg_logp DESC, doc_id) AS t FROM sc)
              |ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // best-of-cluster canonical selection: e14's near-dup groups ×
      // e09's quality score — keep the highest-quality member of each
      // duplicate cluster (tie → lowest doc_id), singletons keep
      // themselves (Dedup.canonicalKeep scaladoc).
      "e39_canonical_keep",
      (s, dir) =>
        Dedup.canonicalKeep(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            k = 16, bands = 4, threshold = 0.8)
          .orderBy("doc_id"),
      Some {
        val stop = langScore(TextAnalysis.profiles.flatMap(_._2))
        s"""WITH RECURSIVE $minhashCtes,
           |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
           |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.8),
           |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
           |reach(a, b) AS (SELECT a, b FROM edges
           |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
           |grp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
           |q AS (
           |  SELECT doc_id, ROUND(LEAST(1.0, n_tokens / 100.0) * (1 - stop_hits * 1.0 / n_tokens), 4) AS quality
           |  FROM (
           |    SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens, $stop AS stop_hits
           |    FROM (SELECT doc_id, text, ' ' || $norm || ' ' AS p FROM documents)))
           |SELECT doc_id, group_id, quality,
           |       row_number() OVER (PARTITION BY group_id ORDER BY quality DESC, doc_id) = 1 AS keep
           |FROM (
           |  SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id, q.quality
           |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id JOIN q ON q.doc_id = d.doc_id)
           |ORDER BY doc_id""".stripMargin
      }
    ),
    QDef(
      // SQ8 flat: compressed-scan ANN — int8 codes (¼ the scan bytes),
      // ranking by the EXACT integer dot of codes (zero FP at scan
      // time, so no rounding boundary at all). Full oracle: DuckDB
      // re-derives the identical codes and integer scores.
      "e46_ann_sq8",
      (s, dir) =>
        Similarity.annSq8TopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(sq8CodesCte +
        s"""
           |SELECT query_id, rank, neighbor_id, qdot FROM (
           |  SELECT query_id, neighbor_id, qdot,
           |         row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
           |  FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |           ${qdotSql("q.code", "e.code")} AS qdot
           |    FROM codes q JOIN codes e ON e.vec_id <> q.vec_id
           |    WHERE q.vec_id < 10))
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),
    QDef(
      // IVF,SQ8: coarse-quantizer pruning × compressed integer scan —
      // the composite index (probe nprobe/nlist partitions, read only
      // int8 codes inside them). Full oracle: the e13 deterministic
      // k-means CTEs + the e46 code/score CTEs.
      "e47_ann_ivf_sq8",
      (s, dir) =>
        Similarity.annIvfSq8TopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(annIvfSq8Oracle(dim = 64, nlist = 16, nprobe = 4, iters = 2, k = 5))
    ),
    QDef(
      // PQ-ADC + exact refine: the corpus scan runs over m=8
      // sub-centroid ids (32× compression at dim=64), ADC-scored
      // asymmetrically (full-precision query · coded centroid,
      // FLOOR(·1e6) integer terms so the sum is order-independent) to a
      // 50-candidate shortlist; only the shortlist touches the float
      // column for the exact-cosine re-rank. Full oracle: 8 independent
      // deterministic sub-k-means + integer ADC + the shared re-rank.
      "e48_ann_pq",
      (s, dir) =>
        Similarity.annPqTopK(graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5)
          .orderBy("query_id", "rank"),
      Some(annPqOracle(dim = 64, m = 8, ks = 16, iters = 2, k = 5,
        shortlist = 50))
    ),
    QDef(
      // cluster-balanced subsampling: keep ≤ cap vectors per k-means
      // cluster, selected by salted hash — diversity-preserving corpus
      // downsampling (shrink over-represented modes, keep coverage).
      "e49_cluster_sample",
      (s, dir) =>
        Similarity.clusterBalancedSample(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"), cap = 20)
          .orderBy("vec_id"),
      Some(clusterSampleOracle(dim = 64, nlist = 16, iters = 2,
        cap = 20, salt = "cbs"))
    ),
    QDef(
      // IVF recall sweep: exact recall@5 of the IVF scan vs the brute
      // ground truth at nprobe ∈ {1,2,4} (Similarity.ivfRecallSweep
      // scaladoc) — the ANN deployment's nprobe tuning table. Oracle =
      // the shared k-means twin + one ranked probe CTE sliced per
      // nprobe + the e06 brute twin.
      "e69_ivf_recall",
      (s, dir) =>
        Similarity.ivfRecallSweep(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5, nprobes = Seq(1, 2, 4))
          .orderBy("nprobe"),
      Some {
        val nps = Seq(1, 2, 4)
        val perNp = nps.map { np =>
          s"""cand$np AS (
             |  SELECT DISTINCT p.query_id, i.vec_id FROM idx i
             |  JOIN prb p ON i.cl = p.cl AND i.vec_id <> p.query_id AND p.rn <= $np),
             |sc$np AS (
             |  SELECT c.query_id, c.vec_id AS neighbor_id,
             |         ROUND(${cosl("qe.v", "e.v")}, 6) AS sim
             |  FROM cand$np c JOIN emb qe ON qe.vec_id = c.query_id
             |                 JOIN emb e ON e.vec_id = c.vec_id),
             |top$np AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY sim DESC, neighbor_id) AS rank FROM sc$np)
             |  WHERE rank <= 5),
             |h$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
             |         FROM top$np t JOIN btop b USING (query_id, neighbor_id))""".stripMargin
        }.mkString(",\n")
        val union = nps.map(np =>
          s"SELECT CAST($np AS INT) AS nprobe, hits FROM h$np").mkString("\nUNION ALL\n")
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
           |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 16)),
           |${kmeansIterSql("c0", "a1", "c1", 64)},
           |${kmeansIterSql("c1", "a2", "c2", 64)},
           |idx AS (SELECT vec_id, cl FROM (
           |  SELECT e.vec_id, c.cl,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
           |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1),
           |prb AS (SELECT vec_id AS query_id, cl, rn FROM (
           |  SELECT e.vec_id, c.cl,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY (${halfSql("c.c")} - ${dotl("e.v", "c.c")}) ASC, c.cl ASC) AS rn
           |  FROM emb e CROSS JOIN c2 c WHERE e.vec_id < 10) WHERE rn <= ${nps.max}),
           |bsc AS (
           |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |         ROUND(${cosl("q.v", "e.v")}, 6) AS sim
           |  FROM emb q JOIN emb e ON e.vec_id <> q.vec_id WHERE q.vec_id < 10),
           |btop AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, neighbor_id) AS rank FROM bsc)
           |  WHERE rank <= 5),
           |den AS (SELECT CAST(COUNT(*) AS BIGINT) AS den FROM btop),
           |$perNp
           |SELECT nprobe, hits, den, (hits * 1000000) // den AS recall_q FROM (
           |$union) CROSS JOIN den ORDER BY nprobe""".stripMargin
      }
    ),
    QDef(
      // cluster cards: every k-means cluster labeled with its top-3
      // c-TF-IDF terms over member documents (Similarity.clusterCards
      // scaladoc) — the e13 k-means twin + e37's tf-idf shape at
      // cluster granularity.
      "e65_cluster_cards",
      (s, dir) =>
        Similarity.clusterCards(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            graft.model.Tables.load(s, s"$dir/documents.parquet"), k = 3)
          .orderBy("cluster", "rank"),
      Some(s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cl, v AS c
              |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 16)),
              |${kmeansIterSql("c0", "a1", "c1", 64)},
              |${kmeansIterSql("c1", "a2", "c2", 64)},
              |idx AS (SELECT vec_id, cl FROM (
              |  SELECT e.vec_id, c.cl,
              |         row_number() OVER (PARTITION BY e.vec_id
              |           ORDER BY (${dotl("e.v", "c.c")} - ${halfSql("c.c")}) DESC, c.cl DESC) AS rn
              |  FROM emb e CROSS JOIN c2 c) WHERE rn = 1),
              |tf AS (
              |  SELECT cluster, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
              |    SELECT idx.cl AS cluster, unnest(${Sql.tokens("d.text")}) AS tok
              |    FROM idx JOIN documents d ON d.doc_id = idx.vec_id)
              |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY 1, 2),
              |dfx AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
              |nc AS (SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) AS ncl FROM tf),
              |sc AS (
              |  SELECT cluster, tok, tf,
              |         tf * (CAST(FLOOR(1000.0 * ln(ncl + CAST(1 AS DOUBLE)) + 0.5) AS BIGINT) - CAST(FLOOR(1000.0 * ln(df + CAST(1 AS DOUBLE)) + 0.5) AS BIGINT)) * 1000 AS score_q
              |  FROM tf JOIN dfx USING (tok) CROSS JOIN nc)
              |SELECT cluster, rank, tok, score_q FROM (
              |  SELECT cluster, tok, score_q,
              |         CAST(row_number() OVER (PARTITION BY cluster
              |           ORDER BY score_q DESC, tok) AS BIGINT) AS rank
              |  FROM sc)
              |WHERE rank <= 3 ORDER BY cluster, rank""".stripMargin)
    ),
    QDef(
      // the DURABLE IVF,SQ8 index (AnnIndex): codes land partitioned by
      // cluster (one directory per inverted list, int8 codes only),
      // then the query reads nprobe/nlist partitions BY PRUNING and
      // scores in the integer domain. Same math as e47 end-to-end, so
      // the same full oracle pins it; the build cost is the declared
      // durable-artifact cost, like e32's index write. The quantizer
      // trains on a DETERMINISTIC 10% salted-hash sample (the e22
      // zero-shuffle primitive; FAISS's train-on-sample convention —
      // k-means needs representative vectors, not the corpus), so the
      // declared build's training scan is ~10x cheaper than full-train
      // and every other pass still covers all of `emb`; the oracle
      // re-derives the SAME sample from the same md5 threshold. Full-
      // corpus training stays pinned by the e13/e47 in-session twins.
      "e50_ann_index",
      (s, dir) => {
        val emb = graft.model.Tables.load(s, s"$dir/embeddings.parquet")
        val idx = graft.Queries.scratchDir("ann_index_q")
        AnnIndex.build(emb, idx, trainOn =
          Some(Pipeline.hashSample(emb, 0.1, idCol = "vec_id",
            salt = "annTrain")))
        AnnIndex.query(s, idx, emb.filter(col("vec_id") < 10), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(annIvfSq8Oracle(dim = 64, nlist = 16, nprobe = 4, iters = 2,
        k = 5, trainPred =
          Sql.hash48("CAST(vec_id AS VARCHAR)", "'annTrain'") +
            s" < ${(0.1 * (1L << 48)).toLong}"))
    ),
    QDef(
      // INCREMENTAL index maintenance — the streaming-corpus-growth
      // shape a 100 TB deployment needs: the index builds on HALF the
      // corpus (even vec_ids), the other half APPENDS later — coded
      // against the STORED centroids (the quantizer is immutable
      // after build, as in FAISS: retrain = rebuild) into their
      // cluster partitions, existing lists untouched. Queries then
      // probe the grown index; the oracle re-derives the k-means on
      // the BUILD half only, assigns the full corpus against those
      // centroids, and replays probe + int8 scoring.
      "e82_ann_index_append",
      (s, dir) => {
        val emb = graft.model.Tables.load(s, s"$dir/embeddings.parquet")
        val idx = graft.Queries.scratchDir("ann_index_append_q")
        AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), idx)
        AnnIndex.append(s, idx, emb.filter(col("vec_id") % 2 =!= 0))
        AnnIndex.query(s, idx, emb.filter(col("vec_id") < 10), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(annIvfSq8Oracle(dim = 64, nlist = 16, nprobe = 4, iters = 2,
        k = 5, trainPred = "vec_id % 2 = 0"))
    ),
    QDef(
      // frequency-based boilerplate removal: segments occurring in ≥ 3
      // distinct docs are purged from EVERY occurrence (vs e29, which
      // keeps one canonical copy) — the corpus-frequency cleaning rule.
      "e52_boilerplate_purge",
      (s, dir) =>
        Dedup.boilerplatePurge(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            width = 20, minDocs = 3)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
              |segs AS (
              |  SELECT doc_id, u.idx AS idx, u.seg AS seg FROM (
              |    SELECT doc_id, unnest(list_transform(range(CAST(ceil(len(toks) / 20.0) AS BIGINT)),
              |      i -> struct_pack(idx := i, seg := array_to_string(toks[CAST(i*20+1 AS BIGINT):CAST(i*20+20 AS BIGINT)], ' ')))) AS u
              |    FROM t)
              |),
              |freq AS (
              |  SELECT md5(seg) AS fp, COUNT(DISTINCT doc_id) AS ndocs
              |  FROM segs GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
              |marked AS (
              |  SELECT s.doc_id, s.idx, s.seg, f.ndocs IS NULL AS keep
              |  FROM segs s LEFT JOIN freq f ON md5(s.seg) = f.fp)
              |SELECT doc_id, COUNT(*) AS n_segs,
              |       COUNT(CASE WHEN keep THEN 1 END) AS kept_segs,
              |       COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY idx), '') AS clean_text
              |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    QDef(
      // contrastive hard-negative mining: top-k below the positive
      // cut (0.35 — calibrated to the synthetic corpus so the cut
      // provably excludes true near-neighbors at this SF; in a real
      // deployment this is the near-dup threshold).
      "e53_hard_negatives",
      (s, dir) =>
        Similarity.hardNegatives(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") < 10, k = 5, posThreshold = 0.35)
          .orderBy("query_id", "rank"),
      Some(s"""SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT query_id, neighbor_id, sim,
              |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              |           ROUND(${cosSql("q.embedding", "e.embedding")}, 6) AS sim
              |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
              |    WHERE q.vec_id < 10
              |  ) WHERE sim < 0.35
              |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),
    QDef(
      // kNN majority-vote label classification: the held-out slice
      // (every 20th vector) classified by the labeled rest — leak-free
      // (queries never vote); majority of the 10 nearest, ties to the
      // smaller label id.
      "e55_knn_classify",
      (s, dir) =>
        Similarity.knnClassify(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") % 20 === 0, k = 10)
          .orderBy("vec_id"),
      Some(s"""WITH scored AS (
              |  SELECT q.vec_id AS query_id, q.label AS true_label,
              |         e.vec_id AS nid, e.label AS nlabel,
              |         ROUND(${cosSql("q.embedding", "e.embedding")}, 6) AS sim
              |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
              |  WHERE q.vec_id % 20 = 0 AND e.vec_id % 20 <> 0
              |), nn AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, nid) AS rnk FROM scored
              |), v AS (
              |  SELECT query_id, true_label, nlabel, COUNT(*) AS votes
              |  FROM nn WHERE rnk <= 10 GROUP BY 1, 2, 3)
              |SELECT query_id AS vec_id, true_label, nlabel AS pred_label, votes
              |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              |        ORDER BY votes DESC, nlabel) AS vr FROM v)
              |WHERE vr = 1 ORDER BY vec_id""".stripMargin)
    ),
    QDef(
      // active-learning uncertainty sampling: the m most
      // label-ambiguous unlabeled vectors by top-2 kNN vote margin
      // (Similarity.uncertaintySample scaladoc) — e55's leak-free scan
      // with the acquisition rule on top.
      "e66_uncertainty",
      (s, dir) =>
        Similarity.uncertaintySample(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") % 20 === 1, k = 10, m = 20)
          .orderBy("pick"),
      Some(s"""WITH scored AS (
              |  SELECT q.vec_id AS query_id, e.vec_id AS nid, e.label AS nlabel,
              |         ROUND(${cosSql("q.embedding", "e.embedding")}, 6) AS sim
              |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
              |  WHERE q.vec_id % 20 = 1 AND e.vec_id % 20 <> 1
              |), nn AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, nid) AS rnk FROM scored
              |), v AS (
              |  SELECT query_id, nlabel, COUNT(*) AS votes
              |  FROM nn WHERE rnk <= 10 GROUP BY 1, 2
              |), r AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY votes DESC, nlabel) AS vr FROM v
              |), t1 AS (SELECT query_id, nlabel AS top_label, votes AS top_votes
              |          FROM r WHERE vr = 1),
              |t2 AS (SELECT query_id, votes AS v2 FROM r WHERE vr = 2),
              |mj AS (
              |  SELECT t1.query_id, top_label, top_votes,
              |         top_votes - COALESCE(v2, 0) AS margin
              |  FROM t1 LEFT JOIN t2 USING (query_id))
              |SELECT query_id AS vec_id, top_label, top_votes, margin, pick FROM (
              |  SELECT *, CAST(row_number() OVER (ORDER BY margin, query_id) AS BIGINT) AS pick
              |  FROM mj)
              |WHERE pick <= 20 ORDER BY pick""".stripMargin)
    ),
    QDef(
      // embedding-space decontamination: per-TRAIN-vector verdicts
      // against the vec_id%17=3 eval slice — the semantic member of
      // the decontam family (e20 shingles, e51 bloom, e44 matrix);
      // closest eval vector + rounded cosine is the audit trail
      // (Similarity.embedDecontam scaladoc).
      "e75_embed_decontam",
      (s, dir) =>
        Similarity.embedDecontam(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            col("vec_id") % 17 === 3, threshold = 0.4)
          .orderBy("vec_id"),
      Some(s"""WITH ev AS (
              |  SELECT vec_id AS eval_id, embedding FROM embeddings
              |  WHERE vec_id % 17 = 3),
              |tr AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  WHERE NOT (vec_id % 17 = 3)),
              |sc AS (
              |  SELECT t.vec_id, e.eval_id,
              |         ROUND(${cosSql("t.embedding", "e.embedding")}, 6) AS sim
              |  FROM tr t LEFT JOIN ev e ON TRUE),
              |rk AS (
              |  SELECT *, row_number() OVER (PARTITION BY vec_id
              |    ORDER BY sim DESC NULLS LAST, eval_id ASC NULLS LAST) AS r
              |  FROM sc)
              |SELECT vec_id, eval_id AS closest_eval, sim AS max_sim,
              |       COALESCE(sim >= 0.4, FALSE) AS contaminated
              |FROM rk WHERE r = 1 ORDER BY vec_id""".stripMargin)
    ),
    QDef(
      // BM25 top-5 lexical retrieval (TextAnalysis.bm25TopK scaladoc):
      // queries = docs with doc_id % 50 = 0, terms = distinct first 6
      // tokens; per-term FLOOR(·1e6) quantization before the integer
      // sum + (score desc, doc_id) ties = engine-stable ranking. The
      // tf aggregate is the inverted index; everything downstream is
      // query-term-postings-sized.
      "e76_bm25_topk",
      (s, dir) =>
        TextAnalysis.bm25TopK(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            queryPred = col("doc_id") % 50 === 0)
          .orderBy("query_id", "rank"),
      Some(s"""WITH c AS (SELECT doc_id, $toks AS toks FROM documents WHERE text IS NOT NULL),
              |p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM c),
              |tf AS (SELECT doc_id, tok, MAX(dl) AS dl, COUNT(*) AS tf FROM p GROUP BY doc_id, tok),
              |q AS (SELECT doc_id AS query_id, unnest(list_distinct(list_slice(toks, 1, 6))) AS tok
              |      FROM c WHERE doc_id % 50 = 0),
              |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM c),
              |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
              |sc AS (
              |  SELECT q.query_id, tf.doc_id,
              |         SUM(CAST(FLOOR(
              |           CAST(FLOOR(1000.0 * ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) + 0.5) AS DOUBLE)
              |           * 1000.0
              |           * (tf.tf * (1.2 + 1.0))
              |           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl))) AS BIGINT)) AS score_q
              |  FROM tf JOIN q USING (tok) JOIN dfreq USING (tok) CROSS JOIN stats
              |  GROUP BY q.query_id, tf.doc_id)
              |SELECT query_id, rank, doc_id, CAST(score_q AS BIGINT) AS score_q FROM (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY score_q DESC, doc_id) AS rank FROM sc)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),
    QDef(
      // Hybrid retrieval: RRF fusion of BM25 (e76's ranking, top-20)
      // and dense cosine (e06's ranking, top-20) with integer
      // 1e9 div (60+rank) contributions (Similarity.rrfFuse scaladoc).
      // Same query slice on both sides: ids % 50 = 0. The two
      // retrieval lists LAND once per (session, sf) — retrieval lists
      // are reusable artifacts (the e13/e26 shared-index pattern);
      // fusion reps pay only the (queries × k)-bounded fuse via
      // rrfFuseFrames, not both upstream retrievals.
      "e77_rrf_fusion",
      (s, dir) => {
        val tag = e77SessionTag.computeIfAbsent(
          s, _ => java.util.UUID.randomUUID().toString.take(8))
        val ranksDir = e77RanksOnce.getOrElseUpdate(
          (tag, dir), {
            val out = graft.Queries.scratchDir(
              s"e77_ranks_${tag}_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
            TextAnalysis.bm25TopK(
                graft.model.Tables.load(s, s"$dir/documents.parquet"),
                col("doc_id") % 50 === 0, k = 20)
              .select(col("query_id"), col("doc_id"),
                col("rank").as("lex_rank"))
              .write.mode("overwrite").parquet(s"$out/lex")
            Similarity.bruteTopK(
                graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
                col("vec_id") % 50 === 0, 20)
              .select(col("query_id"), col("neighbor_id").as("doc_id"),
                col("rank").cast("long").as("dense_rank"))
              .write.mode("overwrite").parquet(s"$out/dense")
            out
          })
        Similarity.rrfFuseFrames(
            s.read.parquet(s"$ranksDir/lex"),
            s.read.parquet(s"$ranksDir/dense"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH c AS (SELECT doc_id, $toks AS toks FROM documents WHERE text IS NOT NULL),
              |p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM c),
              |tf AS (SELECT doc_id, tok, MAX(dl) AS dl, COUNT(*) AS tf FROM p GROUP BY doc_id, tok),
              |q AS (SELECT doc_id AS query_id, unnest(list_distinct(list_slice(toks, 1, 6))) AS tok
              |      FROM c WHERE doc_id % 50 = 0),
              |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM c),
              |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
              |sc AS (
              |  SELECT q.query_id, tf.doc_id,
              |         SUM(CAST(FLOOR(
              |           CAST(FLOOR(1000.0 * ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) + 0.5) AS DOUBLE)
              |           * 1000.0
              |           * (tf.tf * (1.2 + 1.0))
              |           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl))) AS BIGINT)) AS score_q
              |  FROM tf JOIN q USING (tok) JOIN dfreq USING (tok) CROSS JOIN stats
              |  GROUP BY q.query_id, tf.doc_id),
              |lex AS (
              |  SELECT query_id, doc_id, CAST(rank AS BIGINT) AS lex_rank FROM (
              |    SELECT *, row_number() OVER (PARTITION BY query_id
              |      ORDER BY score_q DESC, doc_id) AS rank FROM sc)
              |  WHERE rank <= 20),
              |dn AS (
              |  SELECT query_id, neighbor_id AS doc_id, CAST(rank AS BIGINT) AS dense_rank FROM (
              |    SELECT query_id, neighbor_id,
              |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              |    FROM (
              |      SELECT qe.vec_id AS query_id, e.vec_id AS neighbor_id,
              |             ROUND(${cosSql("qe.embedding", "e.embedding")}, 6) AS sim
              |      FROM embeddings qe JOIN embeddings e ON e.vec_id <> qe.vec_id
              |      WHERE qe.vec_id % 50 = 0))
              |  WHERE rank <= 20),
              |fused AS (
              |  SELECT COALESCE(lex.query_id, dn.query_id) AS query_id,
              |         COALESCE(lex.doc_id, dn.doc_id) AS doc_id,
              |         lex.lex_rank, dn.dense_rank,
              |         COALESCE(1000000000 // (60 + lex.lex_rank), 0)
              |           + COALESCE(1000000000 // (60 + dn.dense_rank), 0) AS rrf_q
              |  FROM lex FULL OUTER JOIN dn
              |    ON lex.query_id = dn.query_id AND lex.doc_id = dn.doc_id)
              |SELECT query_id, rank, doc_id, rrf_q, lex_rank, dense_rank FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank FROM fused)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
    ),
    QDef(
      // Retrieval-quality eval: nDCG@10 + MRR of the dense ranking
      // against LABEL relevance (Similarity.retrievalNdcg scaladoc) —
      // integer DCG weights FLOOR(1e6/log2(rank+1)), exact integer
      // MRR, one rounded double division for nDCG.
      "e78_retrieval_ndcg",
      (s, dir) =>
        Similarity.retrievalNdcg(
            graft.model.Tables.load(s, s"$dir/embeddings.parquet"),
            queryPred = col("vec_id") % 50 === 0)
          .orderBy("query_id"),
      Some(s"""WITH tp AS (
              |  SELECT query_id, neighbor_id, rank FROM (
              |    SELECT query_id, neighbor_id,
              |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              |    FROM (
              |      SELECT qe.vec_id AS query_id, e.vec_id AS neighbor_id,
              |             ROUND(${cosSql("qe.embedding", "e.embedding")}, 6) AS sim
              |      FROM embeddings qe JOIN embeddings e ON e.vec_id <> qe.vec_id
              |      WHERE qe.vec_id % 50 = 0))
              |  WHERE rank <= 10),
              |lab AS (SELECT vec_id, label FROM embeddings),
              |g AS (SELECT t.query_id, t.rank,
              |             CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
              |      FROM tp t JOIN lab nl ON nl.vec_id = t.neighbor_id
              |                JOIN lab ql ON ql.vec_id = t.query_id),
              |w AS (SELECT i AS rnk, CAST(FLOOR(1000000.0 / log2(i + 1.0)) AS BIGINT) AS w
              |      FROM range(1, 11) t(i)),
              |cw AS (SELECT rnk, CAST(SUM(w) OVER (ORDER BY rnk) AS BIGINT) AS cumw FROM w),
              |pq AS (SELECT g.query_id,
              |              CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
              |              CAST(SUM(rel * w.w) AS BIGINT) AS dcg_q,
              |              CAST(MIN(CASE WHEN rel = 1 THEN g.rank END) AS BIGINT) AS first_rel
              |       FROM g JOIN w ON w.rnk = g.rank GROUP BY g.query_id),
              |lc AS (SELECT label, COUNT(*) AS lab_n FROM lab GROUP BY label),
              |fin AS (SELECT pq.*, GREATEST(lc.lab_n - 1, 0) AS r_corpus
              |        FROM pq JOIN lab ql ON ql.vec_id = pq.query_id
              |                JOIN lc ON lc.label = ql.label)
              |SELECT query_id, n_rel_topk, r_corpus, first_rel,
              |       COALESCE(1000000 // first_rel, 0) AS mrr_q, dcg_q,
              |       COALESCE(cw.cumw, 0) AS idcg_q,
              |       CASE WHEN COALESCE(cw.cumw, 0) > 0
              |            THEN ROUND(CAST(dcg_q AS DOUBLE) / cw.cumw, 6) ELSE 0.0 END AS ndcg
              |FROM fin LEFT JOIN cw ON cw.rnk = LEAST(r_corpus, 10)
              |ORDER BY query_id""".stripMargin)
    ),
    QDef(
      // Dedup-detector recall benchmark (Dedup.dedupRecallBench
      // scaladoc): plant light/medium/heavy variants of every 40th doc,
      // run the PRODUCTION MinHash/LSH pass at threshold 0.5 over
      // corpus ∪ variants, report per-severity recall. The oracle
      // replays the whole pipeline (variants, signatures, banding,
      // exact-rational jaccard cut) bit-for-bit.
      "e79_dedup_recall",
      (s, dir) =>
        Dedup.dedupRecallBench(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            srcPred = col("doc_id") % 40 === 0)
          .orderBy("sev"),
      Some(s"""WITH srcd AS (SELECT doc_id, $toks AS toks, text FROM documents
              |              WHERE text IS NOT NULL AND doc_id % 40 = 0),
              |corpus AS (
              |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
              |  UNION ALL SELECT doc_id + 1000000, text || ' zyx wvu' FROM srcd
              |  UNION ALL SELECT doc_id + 2000000,
              |    array_to_string(list_slice(toks, 1,
              |      GREATEST(1, CAST(FLOOR(len(toks) * 3 / 4.0) AS INT))), ' ') FROM srcd
              |  UNION ALL SELECT doc_id + 3000000,
              |    array_to_string(list_transform(range(len(toks)),
              |      i -> CASE WHEN (i % 3) = 2 THEN 'zzz' ELSE toks[i + 1] END), ' ') FROM srcd),
              |sh AS (
              |  SELECT DISTINCT doc_id, unnest(${Sql.shingles("toks")}) AS sh
              |  FROM (SELECT doc_id, $toks AS toks FROM corpus)),
              |hs AS (SELECT doc_id, g.i AS i, min(${Sql.hash48("sh", "CAST(g.i AS VARCHAR)")}) AS minh
              |       FROM sh, generate_series(0, 15) g(i) GROUP BY doc_id, g.i),
              |bk AS (SELECT doc_id, (i // 4) AS band,
              |       string_agg(CAST(minh AS VARCHAR), '-' ORDER BY i) AS sig FROM hs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bk a
              |         JOIN bk b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |inter AS (SELECT c.i, c.j, COUNT(*) AS m FROM cand c
              |          JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND a.sh = b.sh
              |          GROUP BY 1, 2),
              |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i
              |          JOIN sz sj ON sj.doc_id = j
              |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.5),
              |pl AS (SELECT doc_id AS src, CAST(g.sev AS BIGINT) AS sev
              |       FROM srcd, (VALUES (1), (2), (3)) g(sev))
              |SELECT sev, COUNT(*) AS n_planted, COUNT(p.i) AS n_detected,
              |       ROUND(CAST(COUNT(p.i) AS DOUBLE) / COUNT(*), 4) AS recall
              |FROM pl LEFT JOIN pairs p
              |  ON p.i = pl.src AND p.j = pl.src + pl.sev * 1000000
              |GROUP BY sev ORDER BY sev""".stripMargin)
    ),
    QDef(
      // Robust-detector recall benchmark (Dedup.robustNearDups
      // scaladoc): the SAME planted-variant harness as e79, run
      // against the unigram k=32/b=16/r=2 detector. e79 proves the
      // production 3-gram detector is structurally blind to
      // every-third-token rewrites (heavy recall 0 — all shingles
      // die); this gate proves the robust configuration closes that
      // hole (heavy recall recovers because the distinct-token set
      // survives the rewrite). Together they are the eval a pipeline
      // owner uses to pick a detector per contamination model.
      "e80_robust_dedup_recall",
      (s, dir) =>
        Dedup.dedupRecallBench(
            graft.model.Tables.load(s, s"$dir/documents.parquet"),
            srcPred = col("doc_id") % 40 === 0,
            k = 32, bands = 16, threshold = 0.5, n = 1)
          .orderBy("sev"),
      Some(s"""WITH srcd AS (SELECT doc_id, $toks AS toks, text FROM documents
              |              WHERE text IS NOT NULL AND doc_id % 40 = 0),
              |corpus AS (
              |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
              |  UNION ALL SELECT doc_id + 1000000, text || ' zyx wvu' FROM srcd
              |  UNION ALL SELECT doc_id + 2000000,
              |    array_to_string(list_slice(toks, 1,
              |      GREATEST(1, CAST(FLOOR(len(toks) * 3 / 4.0) AS INT))), ' ') FROM srcd
              |  UNION ALL SELECT doc_id + 3000000,
              |    array_to_string(list_transform(range(len(toks)),
              |      i -> CASE WHEN (i % 3) = 2 THEN 'zzz' ELSE toks[i + 1] END), ' ') FROM srcd),
              |sh AS (
              |  SELECT DISTINCT doc_id, unnest(toks) AS sh
              |  FROM (SELECT doc_id, $toks AS toks FROM corpus)),
              |hs AS (SELECT doc_id, g.i AS i, min(${Sql.hash48("sh", "CAST(g.i AS VARCHAR)")}) AS minh
              |       FROM sh, generate_series(0, 31) g(i) GROUP BY doc_id, g.i),
              |bk AS (SELECT doc_id, (i // 2) AS band,
              |       string_agg(CAST(minh AS VARCHAR), '-' ORDER BY i) AS sig FROM hs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bk a
              |         JOIN bk b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |inter AS (SELECT c.i, c.j, COUNT(*) AS m FROM cand c
              |          JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND a.sh = b.sh
              |          GROUP BY 1, 2),
              |pairs AS (SELECT i, j FROM inter JOIN sz si ON si.doc_id = i
              |          JOIN sz sj ON sj.doc_id = j
              |          WHERE m * 1.0 / (si.n + sj.n - m) >= 0.5),
              |pl AS (SELECT doc_id AS src, CAST(g.sev AS BIGINT) AS sev
              |       FROM srcd, (VALUES (1), (2), (3)) g(sev))
              |SELECT sev, COUNT(*) AS n_planted, COUNT(p.i) AS n_detected,
              |       ROUND(CAST(COUNT(p.i) AS DOUBLE) / COUNT(*), 4) AS recall
              |FROM pl LEFT JOIN pairs p
              |  ON p.i = pl.src AND p.j = pl.src + pl.sev * 1000000
              |GROUP BY sev ORDER BY sev""".stripMargin)
    )
  )
}
