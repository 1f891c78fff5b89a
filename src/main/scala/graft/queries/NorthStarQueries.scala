package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Sampling, Similarity, Spread, TextAnalysis => TA}
import graft.io.Tables
import Parity._

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
  * search (brute-force + bucketed ANN), text analysis, multimodal plumbing.
  */
object NorthStarQueries {

  private val StopSql = TA.Stopwords.map(s => s"'$s'").mkString(", ")

  /** The pinned coarse-quantizer shape every oracled `q_ann_*` /
    * `q_domain_*` chain trains: k cells, `AnnCellIters` Lloyd
    * iterations. The DuckDB mirrors hardcode the SAME shape
    * ([[lloydAfCteTailFrom]] interpolates `LIMIT AnnCellK` for the init
    * and unrolls exactly two assign/recenter passes), and Bench's
    * shared-artifact attribution times exactly this build — one constant
    * so the attributed re-learn cannot drift from what the queries
    * actually re-learn (ADVICE r11).
    */
  private[graft] val AnnCellK = 8
  private[graft] val AnnCellIters = 2

  /** Shared DuckDB CTE chain computing per-doc 32-bit simhashes — table
    * `sh(doc_id, lang, sh)` — mirroring [[Dedup.simHashes]] (portable md5
    * token hash, ±1 bit votes). Reused by the pairs and clusters oracles.
    */
  private val MinhashNh = 16

  /** Shared DuckDB CTE chain ending in `cands` (and `sig`) — the MinHash
    * signature + banded-candidate construction mirroring
    * [[Dedup.minHashLsh]] (same affine params, same hot-bucket cap).
    */
  private def minhashCandsCte: String = {
    val nh = MinhashNh; val bands = 4; val rpb = nh / bands
    val hashAggs = Dedup.affineParams(nh).zipWithIndex.map {
      case ((a, b), i) => s"min((h * $a + $b) % ${Dedup.MersenneP}) AS h$i"
    }.mkString(",\n    ")
    val bandRows = (0 until bands).map { bnd =>
      val cols = (bnd * rpb until (bnd + 1) * rpb)
        .map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $bnd AS band, [$cols] AS bk FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS t
       |  FROM documents
       |), shingle AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS s
       |  FROM toks, unnest(range(len(t) - 2)) AS u(i)
       |  WHERE len(t) >= 3
       |), h AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
       |  FROM shingle
       |), sig AS (
       |  SELECT doc_id,
       |    $hashAggs
       |  FROM h GROUP BY doc_id
       |), banded AS (
       |  $bandRows
       |), kept AS (
       |  SELECT banded.* FROM banded
       |  ANTI JOIN (
       |    SELECT band, bk FROM banded GROUP BY band, bk
       |    HAVING count(*) > 100) hot USING (band, bk)
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** Shared DuckDB CTE chain ending in `af(vec_id, b)` — the deterministic
    * Lloyd mirror of [[Similarity.kmeansBuckets]] at the fixture pins
    * (k=8, iters=2): init = 8 smallest-id vectors, two unrolled
    * assign/recenter iterations (empty cells coalesce to the previous
    * center), distances guard-rounded to 6dp, lowest-index tiebreak.
    * Reused by the `q_ann_kmeans` and `q_ann_ivf_sq8` oracles.
    */
  private def lloydAfCte: String = lloydAfCteWhere("")

  /** [[lloydAfCte]] with an extra corpus predicate — the external-query
    * search oracle learns its cells on the corpus HALF only. */
  private def lloydAfCteWhere(extraWhere: String): String =
    s"""e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL$extraWhere
      |), init AS (""".stripMargin + lloydAfCteTail

  private def lloydAfCteTail: String = lloydAfCteTailFrom("e")

  /** The Lloyd chain's assign/recenter iterations parameterized by the
    * TRAINING source table `tr` (init + both recenter passes read `tr`;
    * the final `df`/`af` assignment always covers the full corpus `e`) —
    * `tr = "e"` is the classic full-corpus chain, `tr = "es"` the
    * `trainFraction` mirror where centers learn on the deterministic
    * hash sample while every row still gets a cell
    * ([[graft.ext.Similarity.lloydCenters]]'s sampled contract).
    */
  private def lloydAfCteTailFrom(tr: String): String =
    s"""
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
      |    v AS c
      |  FROM $tr ORDER BY vec_id LIMIT $AnnCellK
      |), d1 AS (
      |  SELECT $tr.vec_id, i.j,
      |    round(list_inner_product($tr.v, $tr.v)
      |      - 2 * list_inner_product($tr.v, i.c)
      |      + list_inner_product(i.c, i.c) + 1e-9, 6) AS dist
      |  FROM $tr CROSS JOIN init i
      |), a1 AS (
      |  SELECT vec_id, j AS b FROM (
      |    SELECT vec_id, j,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
      |    FROM d1 WHERE dist IS NOT NULL) WHERE rn = 1
      |), m1 AS (
      |  SELECT a1.b AS j, t.i AS i, avg($tr.v[t.i]) AS c
      |  FROM $tr JOIN a1 USING (vec_id),
      |    unnest(range(1, len($tr.v) + 1)) AS t(i)
      |  GROUP BY a1.b, t.i
      |), c1l AS (
      |  SELECT j, list(c ORDER BY i) AS c FROM m1 GROUP BY j
      |), c1 AS (
      |  SELECT i.j, coalesce(l.c, i.c) AS c
      |  FROM init i LEFT JOIN c1l l USING (j)
      |), d2 AS (
      |  SELECT $tr.vec_id, k.j,
      |    round(list_inner_product($tr.v, $tr.v)
      |      - 2 * list_inner_product($tr.v, k.c)
      |      + list_inner_product(k.c, k.c) + 1e-9, 6) AS dist
      |  FROM $tr CROSS JOIN c1 k
      |), a2 AS (
      |  SELECT vec_id, j AS b FROM (
      |    SELECT vec_id, j,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
      |    FROM d2 WHERE dist IS NOT NULL) WHERE rn = 1
      |), m2 AS (
      |  SELECT a2.b AS j, t.i AS i, avg($tr.v[t.i]) AS c
      |  FROM $tr JOIN a2 USING (vec_id),
      |    unnest(range(1, len($tr.v) + 1)) AS t(i)
      |  GROUP BY a2.b, t.i
      |), c2l AS (
      |  SELECT j, list(c ORDER BY i) AS c FROM m2 GROUP BY j
      |), c2 AS (
      |  SELECT k.j, coalesce(l.c, k.c) AS c
      |  FROM c1 k LEFT JOIN c2l l USING (j)
      |), df AS (
      |  SELECT e.vec_id, k.j,
      |    round(list_inner_product(e.v, e.v)
      |      - 2 * list_inner_product(e.v, k.c)
      |      + list_inner_product(k.c, k.c) + 1e-9, 6) AS dist
      |  FROM e CROSS JOIN c2 k
      |), af AS (
      |  SELECT vec_id, j AS b FROM (
      |    SELECT vec_id, j,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
      |    FROM df WHERE dist IS NOT NULL) WHERE rn = 1
      |)""".stripMargin

  /** [[lloydAfCte]] with `trainFraction = 0.1` mirrored: `es` filters the
    * corpus by the EXACT salted-md5 bucket predicate
    * [[graft.ext.Sampling.hashBucket]] evaluates on the Spark side
    * (salt `"lloyd"`, 10000 buckets, threshold 1000), centers learn on
    * the 52-vector sample, and the final `af` assignment covers every
    * vector — the 100 TB codebook posture under the hash gate.
    *
    * The empty-sample fallback IS mirrored: `lloydCenters`
    * (Similarity.scala) retrains on the full corpus when the 10% hash
    * bucket catches ZERO vectors (rather than returning no centers),
    * and `es` here coalesces to the full corpus in exactly that case —
    * `es0` is the sample, and the UNION ALL branch re-admits every `e`
    * row only when `es0` is empty. The gate fixtures catch 52 vectors,
    * so the branch is dormant there, but a degenerate fixture stays
    * hash-exact instead of diverging (the Spark twin of the fallback is
    * spec-pinned: sampled training on an empty-sample corpus equals
    * full-corpus training).
    */
  private def lloydAfSampledCte: String =
    s"""e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL
      |), es0 AS (
      |  SELECT vec_id, v FROM e
      |  WHERE ('0x' || substr(md5('lloyd:' || CAST(vec_id AS VARCHAR)),
      |    1, 8))::BIGINT % 10000 < 1000
      |), es AS (
      |  SELECT vec_id, v FROM es0
      |  UNION ALL
      |  SELECT vec_id, v FROM e
      |  WHERE (SELECT count(*) FROM es0) = 0
      |), init AS (""".stripMargin + lloydAfCteTailFrom("es")

  /** One subspace of the PQ quantizer as a DuckDB CTE chain mirroring
    * [[Similarity.pqTopK]]'s per-slice [[Similarity.lloydCenters]] run with
    * `iters = 1`: `sub` slices the vectors, `ini` takes the kSub
    * smallest-id subvectors, `da`/`aa` assign on the init centers
    * (guard-rounded squared-L2, lowest-index tiebreak — the ArgMinCentroid
    * contract), `mm`/`ml`/`cb` recenter (empty cells keep their init
    * center), `dz`/`af` re-assign on the refined centers = the final PQ
    * code, and `rc` is the per-doc reconstructed sub-centroid the SDC
    * score decodes to. Null embeddings never enter the sub-Lloyd (the
    * Spark side filters them from learning) and carry no `rc` row — the
    * LEFT JOINs in the scoring CTE turn that into a null score, Spark's
    * null-code contract.
    */
  private def pqSubCte(j: Int, dsub: Int, kSub: Int,
                       src: String = "e", vcol: String = "v"): String = {
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    s"""sub$j AS (
       |  SELECT vec_id, $vcol[$lo:$hi] AS sv FROM $src
       |  WHERE $vcol IS NOT NULL
       |), ini$j AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cj,
       |    sv AS c
       |  FROM sub$j ORDER BY vec_id LIMIT $kSub
       |), da$j AS (
       |  SELECT s.vec_id, i.cj,
       |    round(list_inner_product(s.sv, s.sv)
       |      - 2 * list_inner_product(s.sv, i.c)
       |      + list_inner_product(i.c, i.c) + 1e-9, 6) AS dist
       |  FROM sub$j s CROSS JOIN ini$j i
       |), aa$j AS (
       |  SELECT vec_id, cj AS b FROM (
       |    SELECT vec_id, cj,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cj) AS rn
       |    FROM da$j WHERE dist IS NOT NULL) WHERE rn = 1
       |), mm$j AS (
       |  SELECT aa$j.b AS cj, t.i AS i, avg(s.sv[t.i]) AS c
       |  FROM sub$j s JOIN aa$j USING (vec_id),
       |    unnest(range(1, len(s.sv) + 1)) AS t(i)
       |  GROUP BY aa$j.b, t.i
       |), ml$j AS (
       |  SELECT cj, list(c ORDER BY i) AS c FROM mm$j GROUP BY cj
       |), cb$j AS (
       |  SELECT i.cj, coalesce(l.c, i.c) AS c
       |  FROM ini$j i LEFT JOIN ml$j l USING (cj)
       |), dz$j AS (
       |  SELECT s.vec_id, k.cj,
       |    round(list_inner_product(s.sv, s.sv)
       |      - 2 * list_inner_product(s.sv, k.c)
       |      + list_inner_product(k.c, k.c) + 1e-9, 6) AS dist
       |  FROM sub$j s CROSS JOIN cb$j k
       |), af$j AS (
       |  SELECT vec_id, cj AS b FROM (
       |    SELECT vec_id, cj,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cj) AS rn
       |    FROM dz$j WHERE dist IS NOT NULL) WHERE rn = 1
       |), rc$j AS (
       |  SELECT a.vec_id, c.c AS r FROM af$j a JOIN cb$j c ON c.cj = a.b
       |)""".stripMargin
  }

  /** The complete `q_ann_pq` oracle: four [[pqSubCte]] sub-Lloyd chains,
    * then the SDC score as the SUM OF PER-SUBSPACE inner products over the
    * reconstructed sub-centroids — the same left-fold association the
    * Spark side's driver-built lookup tables accumulate in
    * (`graft.functions.PqSdcCosine`), so the float matches bit-for-bit
    * modulo the house 6dp guard-round — and the sq8-shaped capped bucket
    * join + exact re-rank tail.
    */
  private def pqOracleSql: String = pqOracleSqlFrom(
    """e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |)""".stripMargin)

  /** [[pqOracleSql]] over a caller-supplied `e(vec_id, label, v)` CTE —
    * shared by the raw (m=4 and the facade-default m=8) and rotated PQ
    * oracles: `m` sub-Lloyd chains over `64/m`-wide slices. */
  private def pqOracleSqlFrom(eCte: String, m: Int = 4): String = {
    val dsub = 64 / m; val kSub = 16
    val subCtes = (0 until m).map(j => pqSubCte(j, dsub, kSub)).mkString(", ")
    val num = (0 until m)
      .map(j => s"list_inner_product(qa$j.r, nb$j.r)").mkString(" + ")
    val qn = (0 until m)
      .map(j => s"list_inner_product(qa$j.r, qa$j.r)").mkString(" + ")
    val cn = (0 until m)
      .map(j => s"list_inner_product(nb$j.r, nb$j.r)").mkString(" + ")
    val qJoins = (0 until m)
      .map(j => s"  LEFT JOIN rc$j qa$j ON qa$j.vec_id = a.vec_id")
      .mkString("\n")
    val nJoins = (0 until m)
      .map(j => s"  LEFT JOIN rc$j nb$j ON nb$j.vec_id = b.vec_id")
      .mkString("\n")
    s"""WITH $eCte, $subCtes, mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM e
       |), approx AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round(($num) /
       |      (NULLIF(sqrt($qn), 0) *
       |       NULLIF(sqrt($cn), 0)) + 1e-9, 6) AS approx
       |  FROM e a JOIN e b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id
       |  JOIN mem m ON m.vec_id = b.vec_id AND m.rn <= 40
       |$qJoins
       |$nJoins
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uv qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The complete `q_ann_pq_adc` oracle: [[pqOracleSql]]'s sub-Lloyd
    * chains and capped label-bucket join, but the query side of the score
    * is the RAW vector — per-subspace slices inner-product the candidate's
    * reconstructed sub-centroids (summed in subspace order, the
    * `PqAdcCosine` left-fold contract) and the query norm is one
    * sequential fold over the full vector.
    */
  /** The `q_ann_pq_rot` oracle: [[pqOracleSqlFrom]] over the signed
    * permutation emitted as LITERALS from the same integer-hash
    * derivation the Spark side uses ([[Similarity.rotationPerm]]/
    * [[Similarity.rotationSign]]) — both engines code and score the
    * identically rotated vectors, so the whole PQ replay matches
    * hash-exact without DuckDB re-deriving any hash.
    */
  private def pqRotOracleSql: String = {
    val dim = 64
    val perm = Similarity.rotationPerm(dim)
    val sign = Similarity.rotationSign(dim)
    val terms = (0 until dim).map { i =>
      val s = if (sign(i) == 1) "1.0" else "-1.0"
      s"v[${perm(i) + 1}] * $s"
    }.mkString(", ")
    pqOracleSqlFrom(
      s"""e AS (
         |  SELECT vec_id, label, [$terms] AS v
         |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |        FROM embeddings)
         |)""".stripMargin)
  }

  private def pqAdcOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m).map(j => pqSubCte(j, dsub, kSub)).mkString(", ")
    val num = (0 until m)
      .map { j =>
        val lo = j * dsub + 1; val hi = (j + 1) * dsub
        s"list_inner_product(a.v[$lo:$hi], nb$j.r)"
      }.mkString(" + ")
    val cn = (0 until m)
      .map(j => s"list_inner_product(nb$j.r, nb$j.r)").mkString(" + ")
    val nJoins = (0 until m)
      .map(j => s"  LEFT JOIN rc$j nb$j ON nb$j.vec_id = b.vec_id")
      .mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), $subCtes, mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM e
       |), approx AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round(($num) /
       |      (NULLIF(sqrt(list_inner_product(a.v, a.v)), 0) *
       |       NULLIF(sqrt($cn), 0)) + 1e-9, 6) AS approx
       |  FROM e a JOIN e b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id
       |  JOIN mem m ON m.vec_id = b.vec_id AND m.rn <= 40
       |$nJoins
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uv qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The complete `q_ann_ivf_pq` oracle: the shared coarse-Lloyd chain
    * (`lloydAfCte` — cells `af`), the per-cell mean centroid codebook and
    * 2-probe ranking from the `q_ann_ivf_sq8` mirror, four [[pqSubCte]]
    * sub-Lloyd chains, and the PQ-SDC score summed per subspace in the
    * same left-fold association as the Spark side's lookup tables — then
    * the exact re-rank tail.
    */
  private def ivfPqOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m).map(j => pqSubCte(j, dsub, kSub)).mkString(", ")
    val num = (0 until m)
      .map(j => s"list_inner_product(qa$j.r, nb$j.r)").mkString(" + ")
    val qn = (0 until m)
      .map(j => s"list_inner_product(qa$j.r, qa$j.r)").mkString(" + ")
    val cn = (0 until m)
      .map(j => s"list_inner_product(nb$j.r, nb$j.r)").mkString(" + ")
    val qJoins = (0 until m)
      .map(j => s"  LEFT JOIN rc$j qa$j ON qa$j.vec_id = p.query_id")
      .mkString("\n")
    val nJoins = (0 until m)
      .map(j => s"  LEFT JOIN rc$j nb$j ON nb$j.vec_id = c.vec_id")
      .mkString("\n")
    s"""WITH $lloydAfCte, $subCtes, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uv u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM af
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(($num) /
       |      (NULLIF(sqrt($qn), 0) *
       |       NULLIF(sqrt($cn), 0)) + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN af c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
       |$qJoins
       |$nJoins
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uv qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The complete `q_ann_ivf_pq_res` oracle — [[ivfPqOracleSql]] with
    * RESIDUAL sub-quantizers and asymmetric scoring: the `res` CTE
    * subtracts each vector's cell-mean centroid, the four [[pqSubCte]]
    * chains train on `res.rv` instead of raw `e.v`, `rcat` concatenates
    * the reconstructed residual sub-centroids, and the approx score is
    * the true cosine of the raw query against `cvec + rcat` (single
    * sequential `list_inner_product` folds — the exact float-association
    * contract of [[graft.functions.PqResAdcCosine]]). Probe ranking, the
    * md5 cap, and the exact re-rank tail are unchanged.
    */
  private def ivfPqResOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    s"""WITH $lloydAfCte, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uv u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM af
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN af c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcat rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uv qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The `q_ann_search` oracle — [[ivfPqResOracleSql]] with the corpus and
    * query roles SPLIT: cells, cell means, residual sub-Lloyds, and codes
    * are learned from the even-id CORPUS half only; the odd-id QUERY half
    * probes them (never contributes to any codebook). The external-serve
    * retrieval contract: query vectors need not exist in the index.
    */
  private def ivfPqResSearchOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    s"""WITH ${lloydAfCteWhere(" AND vec_id % 2 = 0")}, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), qe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 2 = 1
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), uvq AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM qe
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uvq u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM af
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN qe q ON q.vec_id = p.query_id
       |  JOIN af c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcat rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uvq qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The `q_ann_index_add` oracle — [[ivfPqResSearchOracleSql]]'s
    * build-side restricted to the even-id half, EXTENDED with the
    * frozen-geometry ADD of the odd half ([[graft.ext.AnnIndex.add]]'s
    * kernel): each added vector assigns to the nearest CELL MEAN
    * (guard-rounded squared-L2, lowest-bkt ties — the probe geometry,
    * since the index persists means, not the Lloyd centers), takes its
    * residual there, and encodes per subspace against the FROZEN `cb_j`
    * codebooks (no `ini2`/recenter — the books never retrain). The
    * serve tail probes the UNION of built and added rows with a
    * `vec_id % 4 = 1` query panel.
    */
  private def ivfPqResAddOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    val addSubCtes = (0 until m).map { j =>
      val lo = j * dsub + 1
      val hi = (j + 1) * dsub
      s"""sub2$j AS (
         |  SELECT vec_id, rv[$lo:$hi] AS sv FROM res2
         |  WHERE rv IS NOT NULL
         |), dz2$j AS (
         |  SELECT s.vec_id, k.cj,
         |    round(list_inner_product(s.sv, s.sv)
         |      - 2 * list_inner_product(s.sv, k.c)
         |      + list_inner_product(k.c, k.c) + 1e-9, 6) AS dist
         |  FROM sub2$j s CROSS JOIN cb$j k
         |), afx2$j AS (
         |  SELECT vec_id, cj AS b FROM (
         |    SELECT vec_id, cj,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cj) AS rn
         |    FROM dz2$j WHERE dist IS NOT NULL) WHERE rn = 1
         |), rc2$j AS (
         |  SELECT a.vec_id, c.c AS r FROM afx2$j a JOIN cb$j c ON c.cj = a.b
         |)""".stripMargin
    }.mkString(", ")
    val rc2Joins = (1 until m)
      .map(j => s"JOIN rc2$j r$j USING (vec_id)").mkString(" ")
    val rc2Concat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    s"""WITH ${lloydAfCteWhere(" AND vec_id % 2 = 0")}, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), ae AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 2 = 1
       |), adst AS (
       |  SELECT a.vec_id, c.b,
       |    round(list_inner_product(a.v, a.v)
       |      - 2 * list_inner_product(a.v, c.cv)
       |      + list_inner_product(c.cv, c.cv) + 1e-9, 6) AS dist
       |  FROM ae a CROSS JOIN cbl c
       |), aasn AS (
       |  SELECT vec_id, b FROM (
       |    SELECT vec_id, b,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, b) AS rn
       |    FROM adst WHERE dist IS NOT NULL) WHERE rn = 1
       |), res2 AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, len(a.v) + 1),
       |      i -> a.v[i] - cl.cv[i]) AS rv
       |  FROM ae a JOIN aasn ON aasn.vec_id = a.vec_id
       |  JOIN cbl cl ON cl.b = aasn.b
       |), $addSubCtes, rcat2 AS (
       |  SELECT r0.vec_id, $rc2Concat AS rc
       |  FROM rc20 r0 $rc2Joins
       |), afall AS (
       |  SELECT vec_id, b FROM af UNION ALL SELECT vec_id, b FROM aasn
       |), rcall AS (
       |  SELECT vec_id, rc FROM rcat
       |  UNION ALL SELECT vec_id, rc FROM rcat2
       |), qe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 4 = 1
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uva AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |  UNION ALL
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM ae
       |), uvq AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM qe
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uvq u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM afall
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN qe q ON q.vec_id = p.query_id
       |  JOIN afall c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcall rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uvq qa ON qa.vec_id = s.query_id
       |  JOIN uva qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The uid shift a re-embedded document's NEW version enters the index
    * under in the `q_ann_index_rekey` fixture — mirrors the corpus loop,
    * where a re-crawled key's accepted version takes a fresh ingest id.
    */
  private[graft] val RekeyUidOffset = 1000000L

  /** The `q_ann_index_rekey` oracle — the LATEST-WINS index lifecycle's
    * terminal state, replayed one-shot: after build(even half) →
    * add(re-embeds of the `vec_id % 8 = 0` documents under shifted uids,
    * changed content = the reversed embedding) → supersede(the old uids)
    * → rebuild, the index holds exactly the LIVE UNIT VECTORS (rebuild
    * re-learns from the persisted `uvec` rows minus tombstones), so the
    * ground truth is [[ivfPqResSearchOracleSql]] with `e` := the live
    * set normalized — survivors' unit embeddings under their own uids
    * plus the re-embeds' unit reversed embeddings under shifted uids —
    * and a `vec_id % 4 = 1` external query panel. The Spark side runs
    * the in-plan twin (fresh index parts over the live unit set — ≡
    * rebuild by construction, ExtSpec pins the PERSISTED lifecycle
    * bit-equal to it); a hash match certifies the supersede→rebuild
    * semantics end to end: the stale vector is gone, the new version
    * ranks, nothing else moved.
    */
  private def ivfPqResRekeyOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    val liveE =
      s"""el AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS raw
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id % 2 = 0
         |    AND vec_id % 8 <> 0
         |  UNION ALL
         |  SELECT vec_id + $RekeyUidOffset AS vec_id,
         |    list_reverse(embedding::DOUBLE[]) AS raw
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id % 8 = 0
         |), e AS (
         |  SELECT vec_id,
         |    list_transform(raw,
         |      x -> x / NULLIF(sqrt(list_inner_product(raw, raw)), 0)) AS v
         |  FROM el
         |), init AS (""".stripMargin
    s"""WITH ${liveE + lloydAfCteTail}, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), qe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 4 = 1
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), uvq AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM qe
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uvq u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM af
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN qe q ON q.vec_id = p.query_id
       |  JOIN af c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcat rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uvq qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The `q_ann_index_filtered_rekey` oracle — the FILTERED × SUPERSEDED
    * composition ([[ivfPqResRekeyOracleSql]]'s live set ×
    * [[ivfPqResFilteredOracleSql]]'s membership cut): geometry learns
    * from the POST-SUPERSESSION live set (survivors + re-embeds under
    * shifted uids — the rebuild's terminal state), then the
    * `vec_id % 3 = 0` allowlist (over the LIVE uid, shift included)
    * restricts candidate membership only. Served results are exactly
    * allowlist ∩ live: a superseded uid never ranks even when allowed,
    * a disallowed uid never ranks even when live — the two cuts
    * [[graft.ext.AnnIndex.search]] composes
    * (tombstone anti-join + `allowedUids` semi-join) pinned in ONE gate.
    */
  private def ivfPqResFilteredRekeyOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    val liveE =
      s"""el AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS raw
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id % 2 = 0
         |    AND vec_id % 8 <> 0
         |  UNION ALL
         |  SELECT vec_id + $RekeyUidOffset AS vec_id,
         |    list_reverse(embedding::DOUBLE[]) AS raw
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id % 8 = 0
         |), e AS (
         |  SELECT vec_id,
         |    list_transform(raw,
         |      x -> x / NULLIF(sqrt(list_inner_product(raw, raw)), 0)) AS v
         |  FROM el
         |), init AS (""".stripMargin
    s"""WITH ${liveE + lloydAfCteTail}, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), afw AS (
       |  SELECT * FROM af WHERE vec_id % 3 = 0
       |), qe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 4 = 1
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), uvq AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM qe
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uvq u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM afw
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN qe q ON q.vec_id = p.query_id
       |  JOIN afw c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcat rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uvq qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The `q_ann_index_filtered` oracle — [[ivfPqResSearchOracleSql]]
    * with candidate MEMBERSHIP restricted to the `vec_id % 3 = 0`
    * allowlist AFTER the full-corpus geometry: Lloyd cells, cell means,
    * residual sub-Lloyds, and codes all learn from the whole even-id
    * corpus (one shared index), then `afw` cuts the assignment rows the
    * hot-bucket cap (`mem`) and the candidate join read — exactly the
    * codes semi-join the Spark serve applies. The query panel
    * (`vec_id % 4 = 1`) is never restricted.
    */
  private def ivfPqResFilteredOracleSql: String = {
    val m = 4; val dsub = 16; val kSub = 16
    val subCtes = (0 until m)
      .map(j => pqSubCte(j, dsub, kSub, src = "res", vcol = "rv"))
      .mkString(", ")
    val rcJoins = (1 until m)
      .map(j => s"JOIN rc$j r$j USING (vec_id)").mkString(" ")
    val rcConcat = (0 until m).map(j => s"r$j.r").mkString(" || ")
    s"""WITH ${lloydAfCteWhere(" AND vec_id % 2 = 0")}, cb AS (
       |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
       |  FROM e JOIN af USING (vec_id),
       |    unnest(range(1, len(e.v) + 1)) AS t(i)
       |  GROUP BY af.b, t.i
       |), cbl AS (
       |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
       |), res AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] - cl.cv[i]) AS rv
       |  FROM e JOIN af USING (vec_id) JOIN cbl cl ON cl.b = af.b
       |), $subCtes, rcat AS (
       |  SELECT r0.vec_id, $rcConcat AS rc
       |  FROM rc0 r0 $rcJoins
       |), afw AS (
       |  SELECT * FROM af WHERE vec_id % 3 = 0
       |), qe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id % 4 = 1
       |), cbu AS (
       |  SELECT b,
       |    list_transform(cv,
       |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
       |  FROM cbl
       |), uv AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM e
       |), uvq AS (
       |  SELECT vec_id,
       |    list_transform(v,
       |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
       |  FROM qe
       |), probes AS (
       |  SELECT vec_id AS query_id, b FROM (
       |    SELECT u.vec_id, c.b,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
       |          DESC, c.b) AS pr
       |    FROM uvq u CROSS JOIN cbu c) WHERE pr <= 2
       |), mem AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY b
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM afw
       |), approx AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    round(list_inner_product(q.v, f.fv) /
       |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
       |       NULLIF(sqrt(list_inner_product(f.fv, f.fv)), 0))
       |      + 1e-9, 6) AS approx
       |  FROM probes p
       |  JOIN qe q ON q.vec_id = p.query_id
       |  JOIN afw c ON c.b = p.b AND c.vec_id <> p.query_id
       |  JOIN mem mb ON mb.vec_id = c.vec_id AND mb.rn <= 40
       |  JOIN cbl pc ON pc.b = p.b
       |  LEFT JOIN rcat rr ON rr.vec_id = c.vec_id,
       |  LATERAL (SELECT list_transform(range(1, len(pc.cv) + 1),
       |      i -> pc.cv[i] + rr.rc[i]) AS fv) f
       |), short AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx
       |), cand AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
       |  FROM short s
       |  JOIN uvq qa ON qa.vec_id = s.query_id
       |  JOIN uv qb ON qb.vec_id = s.neighbor_id
       |  WHERE s.ar <= 15
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |)
       |SELECT * FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The `q_hard_negatives` oracle — [[ivfPqResSearchOracleSql]]'s ranked
    * retrieval with the mining tail: rank-1 as pseudo-positive, ranks 2..k
    * as negatives with their cosine margin below the positive (the
    * [[graft.ext.Similarity.hardNegatives]] contract). The base oracle's
    * full text is wrapped as a subquery (no string surgery — a reformat of
    * the base cannot break this), and `rank <= 5` is inherited from the
    * base's own final filter, keeping the two queries' k in lockstep.
    */
  private def hardNegativesOracleSql: String =
    s"""WITH ranked AS (
       |${ivfPqResSearchOracleSql}
       |)
       |SELECT t.query_id, p.pos_id, t.neighbor_id AS neg_id,
       |  t.rank - 1 AS neg_rank, t.cosine,
       |  round(p.pos_cosine - t.cosine + 1e-9, 6) AS margin
       |FROM ranked t
       |JOIN (SELECT query_id, neighbor_id AS pos_id,
       |        cosine AS pos_cosine
       |      FROM ranked WHERE rank = 1) p USING (query_id)
       |WHERE t.rank > 1
       |ORDER BY query_id, neg_rank""".stripMargin

  private def simhashCte: String = {
    val votes = (0 until 32).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n    ")
    val bits = (0 until 32)
      .map(i => s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+')) AS t
       |  FROM documents
       |), hh AS (
       |  SELECT doc_id, lang, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
       |  FROM toks
       |), votes AS (
       |  SELECT doc_id, lang,
       |    $votes
       |  FROM hh GROUP BY doc_id, lang
       |), sh AS (
       |  SELECT doc_id, lang, $bits AS sh FROM votes
       |)""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: token counting + quality scoring
    "q_text_stats" -> ((s, dir) => {
      val st = TA.withTokenStats(Tables.documents(s, dir), "text")
      st.select(col("doc_id"), col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords"), col("n_bpe_tokens"),
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Gopher rule battery: the five classic web-filter predicates as
    // per-doc booleans + combined keep (thresholds: 10..100k tokens so
    // the fixture's short docs exercise both branches)
    "q_gopher_rules" -> ((s, dir) =>
      TA.gopherRules(Tables.documents(s, dir), "text", "doc_id",
          minTokens = 10)
        .orderBy(col("doc_id"))),

    // Row-local Gopher battery — the STREAMING gate's fold form
    // (StreamingCorpus.qualityGate): same predicates computed with
    // array HOFs instead of the (doc, bigram) shuffle, value-identical
    // by construction, certified against the SAME oracle SQL
    "q_gopher_local" -> ((s, dir) =>
      TA.gopherRulesLocal(Tables.documents(s, dir), "text", "doc_id",
          minTokens = 10)
        .orderBy(col("doc_id"))),

    // Multimodal frame sampling: 1→N batch shape; text payloads take the
    // deterministic fallback codec (raster=false), keeping the oracle exact
    "q_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.asMedia(Tables.documents(s, dir),
        "doc_id", "text", "source")
      Multimodal.frameExtract(s, media, everyK = 4)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL raster resize: synthesized PNGs (geometry = pure function of
    // fixture columns) → Graphics2D resample → PNG re-encode → the output
    // dims are RE-DECODED from the produced bytes; the oracle predicts them
    // from the letterbox math, so a hash match proves real pixels moved
    "q_multimodal_resize" -> ((s, dir) => {
      val media = Multimodal.syntheticImageMedia(s, Tables.documents(s, dir))
      Multimodal.resizeMedia(s, media, maxW = 64, maxH = 48)
        .select(col("doc_id"), col("width"), col("height"),
          col("resized_w"), col("resized_h"), col("raster"))
        .orderBy(col("doc_id"))
    }),

    // REAL frame extraction: synthesized multi-page TIFFs → per-frame
    // raster decode; dims per frame come from the decoded rasters
    "q_multimodal_framex" -> ((s, dir) => {
      val media =
        Multimodal.syntheticMultiFrameMedia(s, Tables.documents(s, dir))
      Multimodal.frameExtract(s, media, everyK = 2)
        .select(col("doc_id"), col("frame_idx"), col("frame_w"),
          col("frame_h"), col("raster"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Language ID: marker-token argmax heuristic
    "q_lang_id" -> ((s, dir) =>
      TA.withLanguageId(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("lang"),
          col("score_en"), col("score_de"), col("score_es"),
          col("score_fr"), col("score_zh"), col("lang_pred"))
        .orderBy(col("doc_id"))),

    // Document fingerprint (normalized-text hash)
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // Exact dedup: digest groups
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy(col("content_hash"))),

    // Near-dup: n-gram Jaccard within (lang, length-band) blocks, with the
    // hot-shingle DF cut exercised (shingles in >50 docs dropped)
    "q_dedup_ngram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("len_band", expr("n_chars div 50"))
      Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          Seq("lang", "len_band"), threshold = 0.05,
          maxShingleDocFreq = 50)
        .select(col("id_a"), col("id_b"), ground(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ANN: exact brute-force cosine top-10 for 5 query vectors
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN at scale: IVF-style nearest neighbor within coarse buckets. The
    // hot-bucket guard is EXERCISED here (cap 40 binds on the 44-59-row
    // fixture cells — same discipline as q_minhash_lsh's maxBandBucket):
    // per-cell candidate fan-in stays bounded however the corpus grows,
    // and the md5-order cap rule is mirrored verbatim in the oracle.
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.bucketedNN(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 1, maxBucket = 40)
        .orderBy(col("query_id"))),

    // Multi-probe IVF: each query probes its 2 nearest coarse centroids
    // (label-mean codebook) — the recall fix for cell-boundary neighbors;
    // candidate generation stays a bucket equi-join, candidate fan-in
    // bounded by the same oracle-mirrored hot-bucket cap
    "q_ann_multiprobe" -> ((s, dir) =>
      Similarity.multiProbeNN(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 5, nProbe = 2, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // Two-stage SQ8 retrieval: int8 codes score the bucket join (8x fewer
    // candidate-join bytes than floats), exact cosine re-ranks the
    // per-query top-15 shortlist to the final top-5; bucket fan-in capped
    "q_ann_sq8" -> ((s, dir) =>
      Similarity.sq8TopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 5, overfetch = 3,
          maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // Product quantization (SDC): the memory step past SQ8 — 4
    // sub-codebooks (kSub=16, smallest-id init, one Lloyd refine) learned
    // on embedding slices, candidates scored by table-lookup cosine (2
    // bytes of code per vector through the candidate shuffle vs SQ8's 64),
    // exact re-rank on top. The quantizer is deterministic Lloyd end to
    // end, so the oracle replays all four sub-Lloyds in SQL.
    "q_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 5, dim = 64, m = 4,
          kSub = 16, iters = 1, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // The SHIPPED facade default m=8 under the hash gate (VERDICT r11
    // item 4): every other oracled PQ query pins m=4, but the facade's
    // PQ family defaults to m=8 since the round-11 recall sweep
    // (SCALING.md: +31–44% recall for 2 extra code bytes) — this row runs
    // the 8-subspace quantizer (dsub=8, eight sub-Lloyds) end-to-end
    // against the same generalized sub-Lloyd CTE generator.
    "q_ann_pq_m8" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 5, dim = 64, m = 8,
          kSub = 16, iters = 1, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // Rotation-PQ ("OPQ-lite"): a deterministic signed permutation
    // spreads per-dimension energy across the m subspaces before coding
    // (FAISS's RandomRotationMatrix restricted to the signed-permutation
    // subgroup — orthogonal, so cosines are mathematically unchanged).
    // The oracle receives the permutation as literals and replays the
    // whole PQ chain over the identically rotated vectors.
    "q_ann_pq_rot" -> ((s, dir) =>
      Similarity.pqTopK(
          Tables.embeddings(s, dir).withColumn("remb",
            Similarity.rotate(col("embedding").cast("array<double>"), 64)),
          "vec_id", "remb", "label", k = 5, dim = 64, m = 4,
          kSub = 16, iters = 1, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // Asymmetric PQ (ADC — FAISS's default): corpus side stays 2-byte
    // codes through the capped candidate join, queries score with raw
    // floats against reconstructed sub-centroids (one quantization per
    // pair instead of SDC's two). Same sub-Lloyd codebooks as q_ann_pq.
    "q_ann_pq_adc" -> ((s, dir) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 5, dim = 64, m = 4,
          kSub = 16, iters = 1, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))),

    // End-to-end learned-quantizer ANN: deterministic distributed Lloyd
    // (k=8, 2 iterations, k-smallest-id init) assigns the coarse cells —
    // no caller-supplied label — then the guarded bucket join ranks
    // within-cell neighbors. Fully SQL-expressible quantizer → hash-exact
    // oracle (the reason for Lloyd over MLlib kmeans||; see
    // Similarity.kmeansBuckets scaladoc).
    "q_ann_kmeans" -> ((s, dir) => {
      val bucketed = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.bucketedNN(bucketed, "vec_id", "embedding", "kb",
          k = 1, maxBucket = 40)
        .orderBy(col("query_id"))
    }),

    // The 100 TB codebook posture UNDER THE HASH GATE (VERDICT r11 item
    // 1): identical to q_ann_kmeans except the Lloyd centers train on a
    // DETERMINISTIC 10% hash sample of the corpus (salted md5 bucket of
    // vec_id — Sampling.hashBucket, so the oracle replays the exact
    // 52-vector training set) while assignment still covers every row.
    // The one round-11 feature that ran outside CORRECTNESS now has a
    // hash-exact row exercising the sampled path end-to-end.
    "q_ann_ivf_sampled" -> ((s, dir) => {
      val bucketed = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb",
        trainFraction = 0.1)
      Similarity.bucketedNN(bucketed, "vec_id", "embedding", "kb",
          k = 1, maxBucket = 40)
        .orderBy(col("query_id"))
    }),

    // Quantizer-free ANN: random-hyperplane LSH signature (4 portable
    // integer-hash planes → 16 cells, codegen'd SignBits) assigns the
    // coarse bucket — the day-one candidate generator before a quantizer
    // is trained — then the same guarded bucket join ranks within-cell
    // neighbors. Every sign bit mirrored exactly in the oracle
    // (transcendental-free planes + 6dp guard).
    "q_ann_hyperplane" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).withColumn("hb",
        Similarity.hyperplaneBucket(col("embedding"), dim = 64, nPlanes = 4))
      Similarity.bucketedNN(emb, "vec_id", "embedding", "hb",
          k = 1, maxBucket = 40)
        .orderBy(col("query_id"))
    }),

    // The full production IVF pipeline end-to-end (VERDICT r7 item 2 /
    // r8 item 4): learned Lloyd quantizer assigns coarse cells → each
    // query multi-probes its 2 nearest cell centroids → SQ8 int8 codes
    // score the probed candidates (floats never ride the fan-out) →
    // exact float re-rank of the per-query top-15 shortlist to top-5.
    // Every stage deterministic and mirrored in the DuckDB oracle.
    "q_ann_ivf_sq8" -> ((s, dir) => {
      val bucketed = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.ivfSq8TopK(bucketed, "vec_id", "embedding", "kb",
          k = 5, nProbe = 2, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The FAISS-IVFPQ shape: same learned cells and 2-probe candidate
    // generation as q_ann_ivf_sq8, but candidates are scored by 4-subspace
    // PQ codes through the SDC table lookup (2 bytes of payload per
    // candidate vs SQ8's 64) before the exact float re-rank. The oracle
    // replays the coarse Lloyd AND all four sub-space Lloyds in SQL.
    "q_ann_ivf_pq" -> ((s, dir) => {
      val bucketed = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.ivfPqTopK(bucketed, "vec_id", "embedding", "kb",
          k = 5, nProbe = 2, dim = 64, m = 4, kSub = 16, iters = 1,
          overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Residual IVF-PQ — the configuration FAISS's IVFPQ actually ships:
    // sub-quantizers code the residual x − c(cell), candidates score
    // asymmetrically against cvec + reconstructed residual through the
    // codegen'd PqResAdcCosine. The oracle replays the coarse Lloyd, the
    // cell-mean subtraction, AND all four residual sub-Lloyds in SQL.
    "q_ann_ivf_pq_res" -> ((s, dir) => {
      val bucketed = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.ivfPqResTopK(bucketed, "vec_id", "embedding", "kb",
          k = 5, nProbe = 2, dim = 64, m = 4, kSub = 16, iters = 1,
          overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN self-evaluation: per-query recall@5 of the residual IVF-PQ
    // path against the exact brute-force baseline, over a deterministic
    // 20% hash-sampled query panel — the index-quality monitor a
    // production retrieval deployment alerts on (the corpus side stays
    // exact; the panel bounds the brute-force probe side, which is the
    // only honest way to afford ground truth at scale). Both sides are
    // deterministic (6dp ties broken by id, capped candidate rule), so
    // the recall fractions themselves sit inside the hash-exact gate.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val panel = Sampling.deterministicSample(emb, "vec_id", "recall", 20)
        .select(col("vec_id"), col("embedding"))
      val bucketed = Similarity.kmeansBuckets(emb, "vec_id", "embedding",
        k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      val approx = Similarity.ivfPqResTopK(bucketed, "vec_id", "embedding",
          "kb", k = 5, nProbe = 2, dim = 64, m = 4, kSub = 16, iters = 1,
          overfetch = 3, maxBucket = 40)
        .join(panel.select(col("vec_id").as("query_id")), Seq("query_id"),
          "left_semi")
      val exact = Similarity.bruteForceTopK(panel, emb, "vec_id",
        "embedding", k = 5)
      exact
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .withColumn("recall", ground(col("n_hit").cast("double") /
          col("n_exact").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // External-query retrieval — the serve-time contract: the index
    // (cells, cell means, residual codebooks, codes) is built from the
    // even-id CORPUS half only; the odd-id QUERY half probes it without
    // ever contributing to a codebook. Every other ANN query is the
    // self-search special case of this operator.
    "q_ann_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      val queries = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      val bucketed = Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.ivfPqResSearch(bucketed, queries, "vec_id", "embedding",
          "kb", k = 5, nProbe = 2, dim = 64, m = 4, kSub = 16, iters = 1,
          overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Incremental index growth inside the hash gate: the index is BUILT
    // on the even-id half (cells, cell means, residual codebooks, codes),
    // the odd half is ADDED under the FROZEN geometry via the exact
    // AnnIndex.add kernel (encodeFrozen — nearest cell mean, frozen-book
    // residual codes), and a vec_id % 4 == 1 panel probes the augmented
    // index through the standard serve plan. A hash match certifies the
    // faiss-add() contract end-to-end: training restricted to the built
    // half, added codes bit-compatible, one probe serving both.
    "q_ann_index_add" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      val added = emb.filter(col("vec_id") % 2 === 1)
      val bucketed = Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      val (cents, coded1, unit1, books) =
        Similarity.ivfPqResIndexParts(bucketed, "vec_id", "embedding",
          "kb", dim = 64, m = 4, kSub = 16, iters = 1).get
      val centPairs = cents.select(col("bkt"), col("cvec"))
        .orderBy(col("bkt")).collect()
        .map(r => r.getAs[Int]("bkt") -> r.getSeq[Double](1).toArray)
      val vd = col("embedding").cast("array<double>")
      val coded2 = graft.ext.AnnIndex.encodeFrozen(
        added.filter(vd.isNotNull)
          .select(col("vec_id").as("uid"), vd.as("v")),
        centPairs, cents, books, dsub = 16)
      val unit2 = added.select(col("vec_id").as("uid"),
        Similarity.unitVec(col("embedding")).as("uvec"))
      val queries = emb.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      Similarity.ivfPqResServe(cents, coded1.unionByName(coded2),
          unit1.unionByName(unit2), queries, "vec_id", "embedding",
          books.map(_.flatten), kSub = 16, k = 5, nProbe = 2,
          overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // LATEST-WINS identity for the persisted index, terminal state
    // in-plan: the vec_id % 8 == 0 documents of the built (even) half
    // get RE-EMBEDDED (changed content = the reversed embedding) and
    // re-enter under shifted uids while their old uids are superseded;
    // rebuild then re-learns geometry from the persisted unit vectors of
    // exactly the LIVE set — so the twin is fresh index parts over the
    // live unit vectors, probed by an external vec_id % 4 == 1 panel.
    // ExtSpec pins the PERSISTED build → add → supersede → rebuild →
    // search lifecycle bit-equal to this plan; the hash gate certifies
    // the serve math over the post-supersession state: the stale vector
    // is gone, the new version ranks, nothing else moved.
    "q_ann_index_rekey" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val survivors = emb
        .filter(col("vec_id") % 2 === 0 && col("vec_id") % 8 =!= 0)
        .select(col("vec_id"), Similarity.unitVec(vd).as("embedding"))
      val reembeds = emb.filter(col("vec_id") % 8 === 0)
        .select((col("vec_id") + RekeyUidOffset).as("vec_id"),
          Similarity.unitVec(reverse(vd)).as("embedding"))
      val live = survivors.unionByName(reembeds)
      val bucketed = Similarity.kmeansBuckets(live, "vec_id", "embedding",
        k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      val queries = emb.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      Similarity.ivfPqResSearch(bucketed, queries, "vec_id", "embedding",
          "kb", k = 5, nProbe = 2, dim = 64, m = 4, kSub = 16, iters = 1,
          overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // FILTERED retrieval over one shared index — the metadata filter
    // every production vector store serves (tenant/language/license
    // scoping): geometry and codes built on the FULL even-id corpus,
    // the vec_id % 3 == 0 allowlist restricting candidate MEMBERSHIP
    // only (per-bucket cap and re-rank see only allowed rows; k results
    // come from the allowed set), external % 4 == 1 query panel.
    // ExtSpec pins the persisted path (AnnIndex.search(allowedUids))
    // bit-equal to this plan.
    "q_ann_index_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      val queries = emb.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      val bucketed = Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      val (cents, coded, unit, books) =
        Similarity.ivfPqResIndexParts(bucketed, "vec_id", "embedding",
          "kb", dim = 64, m = 4, kSub = 16, iters = 1).get
      val allow = corpus.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("uid"))
      Similarity.ivfPqResServe(cents,
          coded.join(allow, Seq("uid"), "left_semi"), unit, queries,
          "vec_id", "embedding", books.map(_.flatten), kSub = 16, k = 5,
          nProbe = 2, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // FILTERED × SUPERSEDED composition — the serve path every
    // production store actually runs: a tenant-scoped search over an
    // index that has absorbed re-embeddings. Geometry and codes are the
    // rekey fixture's POST-REBUILD live set (survivors + shifted
    // re-embeds); the % 3 == 0 allowlist (over live uids, shift
    // included) restricts candidate membership only. Results are
    // exactly allowlist ∩ live — a superseded uid never ranks even when
    // allowed, a disallowed uid never ranks even when live. ExtSpec pins
    // the PERSISTED path (search over the superseded-then-rebuilt index
    // with allowedUids) bit-equal to this plan; the DuckDB hash gate
    // certifies both cuts composed.
    "q_ann_index_filtered_rekey" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val survivors = emb
        .filter(col("vec_id") % 2 === 0 && col("vec_id") % 8 =!= 0)
        .select(col("vec_id"), Similarity.unitVec(vd).as("embedding"))
      val reembeds = emb.filter(col("vec_id") % 8 === 0)
        .select((col("vec_id") + RekeyUidOffset).as("vec_id"),
          Similarity.unitVec(reverse(vd)).as("embedding"))
      val live = survivors.unionByName(reembeds)
      val bucketed = Similarity.kmeansBuckets(live, "vec_id", "embedding",
        k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      val (cents, coded, unit, books) =
        Similarity.ivfPqResIndexParts(bucketed, "vec_id", "embedding",
          "kb", dim = 64, m = 4, kSub = 16, iters = 1).get
      val allow = live.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("uid"))
      val queries = emb.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      Similarity.ivfPqResServe(cents,
          coded.join(allow, Seq("uid"), "left_semi"), unit, queries,
          "vec_id", "embedding", books.map(_.flatten), kSub = 16, k = 5,
          nProbe = 2, overfetch = 3, maxBucket = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining — the contrastive-training data step composed
    // directly on the external-retrieval path: rank-1 = pseudo-positive,
    // ranks 2..k = negatives with their cosine margin below the positive
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      val queries = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      val bucketed = Similarity.kmeansBuckets(corpus, "vec_id",
        "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "kb")
      Similarity.hardNegatives(
          Similarity.ivfPqResSearch(bucketed, queries, "vec_id",
            "embedding", "kb", k = 5, nProbe = 2, dim = 64, m = 4,
            kSub = 16, iters = 1, overfetch = 3, maxBucket = 40))
        .orderBy(col("query_id"), col("neg_rank"))
    }),

    // Multimodal: binary payload + typed-metadata batch decode (stubbed
    // codec, real plumbing — see graft.ext.Multimodal)
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.asMedia(Tables.documents(s, dir),
        "doc_id", "text", "source")
      Multimodal.decodeBatches(s, media).toDF()
        .orderBy(col("doc_id"))
    }),

    // Real audio decode: one synthetic-but-real PCM WAV per document
    // (sine, parameters closed-form in doc_id), decoded through the
    // JDK's javax.sound.sampled — header facts AND two genuine DSP
    // features (RMS, peak) computed from the decoded waveform. The
    // oracle replays the quantized sine sample-for-sample in SQL.
    "q_audio_meta" -> ((s, dir) => {
      val media = Multimodal.syntheticAudioMedia(s, Tables.documents(s, dir))
      Multimodal.audioStats(s, media).toDF()
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("channels"), col("n_samples"), col("duration_ms"),
          ground(col("rms"), 6).as("rms"),
          ground(col("peak"), 6).as("peak"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup via pigeonhole banding (portable md5-derived token
    // hash → fully DuckDB-oracled; the oracle uses the semantically-equal
    // pairwise form since the banding is exact, not approximate)
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashNearDups(Tables.documents(s, dir), "text", "doc_id",
          Seq("lang"), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash+LSH near-dup candidates (portable hash → oracled), with the
    // hot-bucket cap exercised
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLsh(Tables.documents(s, dir), "text", "doc_id",
          maxBandBucket = 100)
        .filter(col("sig_agreement") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // Pairs → canonical duplicate clusters (connected components, min-label
    // propagation); singletons keep their own id, keeper = component min
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashNearDups(docs, "text", "doc_id",
        Seq("lang"), maxHamming = 3)
      val labels = Dedup.resolveClusters(pairs)
      docs.select(col("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("is_keeper",
          (col("doc_id") === col("cluster_id")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup-style SEMANTIC dedup: embedding near-dup pairs (cosine ≥ t
    // inside coarse buckets — candidate generation is the bucket
    // equi-join, never all pairs) → connected components (O(log d)
    // pointer-doubling) → min-id keeper + cluster size. The composition an
    // embedding-curation pipeline runs to drop semantically-redundant
    // documents a text-hash dedup cannot see. Oracle recomputes the same
    // cosine pairs (list_inner_product) and closes them with a recursive
    // CTE.
    "q_semantic_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Similarity.neighborPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", threshold = 0.3)
      val labels = Dedup.resolveClusters(
        pairs.select(col("id_a"), col("id_b")))
      Tables.embeddings(s, dir).select(col("vec_id"))
        .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .withColumn("is_keeper",
          (col("vec_id") === col("cluster_id")).cast("long"))
        .orderBy(col("vec_id"))
    }),

    // Embedding-cluster domain discovery: learned Lloyd cells over the
    // embedding table joined to the documents' metadata — the curation
    // step that tells a training-mixture recipe WHAT each semantic
    // cluster contains (per-cell doc counts, language/source diversity,
    // and the dominant language with its share). The oracle replays the
    // coarse Lloyd and the join in SQL.
    "q_domain_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "cell")
        .select(col("vec_id").as("doc_id"), col("cell"))
      val joined = Tables.documents(s, dir).join(cells, "doc_id")
      val perLang = joined.groupBy(col("cell"), col("lang"))
        .agg(count(lit(1)).as("lc"))
        .withColumn("lr", row_number().over(Window.partitionBy(col("cell"))
          .orderBy(col("lc").desc, col("lang"))))
        .filter(col("lr") === 1)
        .select(col("cell"), col("lang").as("top_lang"),
          col("lc").as("top_lang_docs"))
      joined.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .join(broadcast(perLang), "cell")
        .withColumn("top_lang_share",
          round(col("top_lang_docs").cast("double") /
            col("n_docs").cast("double") + lit(1e-9), 4))
        .orderBy(col("cell"))
    }),

    // Cluster-balanced selection: deterministic per-CELL stratified
    // sample over the learned semantic cells — the "equal share per
    // semantic cluster" data-selection recipe, composed from the Lloyd
    // quantizer and the hash-rank sampler (both already oracled alone).
    "q_domain_sample" -> ((s, dir) => {
      val cells = Similarity.kmeansBuckets(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = AnnCellK, iters = AnnCellIters, bucketCol = "cell")
        .select(col("vec_id").as("doc_id"), col("cell"))
      graft.ext.Sampling.stratifiedSample(
          Tables.documents(s, dir).join(cells, "doc_id"),
          Seq("cell"), "doc_id", salt = "domain", n = 10)
        .select(col("cell"), col("doc_id"), col("samp_rank"))
        .orderBy(col("cell"), col("samp_rank"))
    }),

    // LSH candidates + exact-Jaccard verification — the production
    // two-stage dedup (estimate prunes, exact verifies on the tiny
    // candidate set)
    "q_minhash_verified" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cands = Dedup.minHashLsh(docs, "text", "doc_id",
        maxBandBucket = 100)
      Dedup.verifyCandidatesJaccard(cands, docs, "text", "doc_id",
          threshold = 0.2)
        .select(col("id_a"), col("id_b"),
          ground(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Quality-aware keeper selection: within each duplicate cluster keep
    // the HIGHEST-quality doc (rounded quality, doc-id tiebreak — raw
    // floats would tie-break engine-nondeterministically), not simply the
    // min id. The canonical "which copy survives dedup" policy.
    "q_dedup_keeper" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashNearDups(docs, "text", "doc_id",
        Seq("lang"), maxHamming = 3)
      val labels = Dedup.resolveClusters(pairs)
      val st = TA.withTokenStats(docs, "text")
      val scored = st.select(col("doc_id"),
        ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")), 4).as("quality"))
      val clustered = scored
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      val wAll = Window.partitionBy(col("cluster_id"))
      clustered
        .withColumn("rk", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(wAll))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("keeper_doc"),
          col("n_members"), col("quality").as("keeper_quality"))
        .orderBy(col("cluster_id"))
    }),

    // Embedding-cosine near-dup pairs within IVF buckets
    "q_embedding_neardup" -> ((s, dir) =>
      Similarity.neighborPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // Flagship end-to-end curation composition: exact-dedup keepers →
    // language ID → quality score → quality gate → stable split → per
    // (lang, split) corpus stats. Every stage is narrow except the dedup
    // groupBy and the final small agg — the whole pipeline is two shuffles.
    "q_corpus_curation" -> ((s, dir) => {
      // spread once at the root: the broadcast semi-join preserves the
      // scan's partitioning, so the regex-heavy stats downstream would
      // otherwise inherit the single-split scan
      val docs = Spread.cpu(Tables.documents(s, dir), "doc_id")
      val keepers = Dedup.exactGroups(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
      val st = TA.withTokenStats(TA.withLanguageId(kept, "text"), "text")
        .withColumn("quality",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4))
        .filter(col("quality") >= 0.5)
      Sampling.withSplit(st, "doc_id", salt = "graft")
        .groupBy(col("lang_pred"), col("split"))
        .agg(count(lit(1)).as("n"),
          ground(avg(col("quality")), 4).as("avg_quality"))
        .orderBy(col("lang_pred"), col("split"))
    }),

    // Vocabulary statistics — the corpus-wide token frequency table BPE /
    // vocab training starts from: term frequency + document frequency,
    // top 20. Explode → groupBy(token) partial-aggregates map-side; the
    // exact distinct-doc count is a second shuffle (swap in
    // approx_count_distinct at corpus scale — same plan shape minus the
    // expand).
    "q_vocab_topk" -> ((s, dir) =>
      // two-level aggregation instead of groupBy(t) + countDistinct: the
      // (doc, token) pre-agg combines map-side AND makes df a plain count —
      // no Expand doubling every exploded row, one shuffle of pre-combined
      // pairs instead of two of raw tokens
      TA.termFreq(Tables.documents(s, dir), "text", "doc_id",
          cached = false) // single consumer: one pass, nothing to re-read
        .groupBy(col("t"))
        .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
        .orderBy(col("tf").desc, col("t"))
        .limit(20)),

    // Per-document tf-idf top terms (the keyword-extraction primitive):
    // term frequency per (doc, token), document frequency per token,
    // score = tf · ln(N/df). Ranking uses the ROUNDED score — raw ln
    // differs between engines in the last ulp, and mathematically-equal
    // scores from different (tf, df) pairs (e.g. 2·ln(10) vs 1·ln(100))
    // would tie-break nondeterministically on raw floats.
    "q_tfidf_top" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count() // bounded scalar, like the min/max-date collects
      // df derives FROM tf (tf has one row per (doc, token), so a plain
      // count per token IS the document frequency) — one explode + one
      // (doc, token) shuffle total, instead of a second explode feeding a
      // distinct shuffle. cached (in termFreq): tf feeds join + df agg.
      val tf = TA.termFreq(docs, "text", "doc_id")
        .withColumnRenamed("c", "tf")
      val idf = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("t"))
      tf.join(idf, "t")
        .withColumn("score",
          ground(col("tf") * log(lit(n.toDouble) / col("df")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("t"), col("tf"), col("df"),
          col("score"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // Per-group top-k via the custom bounded Aggregator (groups never
    // materialize — partial top-k per partition, k-way merge)
    "q_topk_quality_per_lang" -> ((s, dir) => {
      import s.implicits._
      val st = TA.withTokenStats(Tables.documents(s, dir), "text")
        .withColumn("quality",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4))
        .select(col("lang"), col("doc_id"), col("quality"))
      val agg = graft.functions.TopKByScore(3)
      st.as[(String, Long, Double)]
        .groupByKey(_._1)
        .mapValues { case (_, id, q) => (id, q) }
        .agg(agg.toColumn)
        .flatMap { case (lang, items) =>
          items.zipWithIndex.map { case ((id, q), i) =>
            (lang, id, q, (i + 1).toLong)
          }
        }
        .toDF("lang", "doc_id", "quality", "rank")
        .orderBy(col("lang"), col("rank"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q_text_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks
         |  FROM documents
         |), st AS (
         |  SELECT doc_id,
         |    len(toks) AS n_tokens,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
         |      AS token_chars,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(toks, t -> t IN ($StopSql))) AS BIGINT)
         |      AS n_stopwords,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s\\x0b]')) AS BIGINT) AS n_bpe_tokens
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, token_chars, n_punct, n_stopwords,
         |  n_bpe_tokens,
         |  round(least(n_tokens / 100.0, 1.0) * 0.3
         |    + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_tokens, 1), 1.0)) * 0.4
         |    + least(CAST(n_stopwords AS DOUBLE) * 5.0 / greatest(n_tokens, 1), 1.0) * 0.3
         |    + 1e-9, 4) AS quality
         |FROM st ORDER BY doc_id""".stripMargin,

    "q_gopher_rules" -> gopherOracleSql,

    // the row-local fold form is VALUE-identical to the shuffle form by
    // construction — it shares the oracle verbatim, so a hash match
    // certifies both spellings against the same SQL ground truth
    "q_gopher_local" -> gopherOracleSql
  ) ++ oracles2

  /** Shared by `q_gopher_rules` (shuffle form) and `q_gopher_local`
    * (row-local fold form) — one SQL ground truth for both spellings. */
  private lazy val gopherOracleSql: String =
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks,
         |    regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+') AS ltoks
         |  FROM documents
         |), st AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
         |      AS token_chars,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
         |      AS n_punct,
         |    CAST(len(list_filter(toks, t -> t IN ($StopSql))) AS BIGINT)
         |      AS n_stopwords,
         |    CAST(len(list_distinct(ltoks)) AS BIGINT) AS n_distinct
         |  FROM t
         |), bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(ltoks) - 1),
         |      i -> ltoks[i+1] || ' ' || ltoks[i+2])) AS b
         |  FROM t WHERE len(ltoks) >= 2
         |), top AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n FROM (
         |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2
         |  ) GROUP BY 1
         |), m AS (
         |  SELECT st.doc_id, n_tokens,
         |    round(token_chars / greatest(n_tokens, 1) + 1e-9, 6)
         |      AS mean_word_len,
         |    round(n_punct / greatest(n_tokens, 1) + 1e-9, 6) AS punct_ratio,
         |    n_stopwords,
         |    round(n_distinct / greatest(n_tokens, 1) + 1e-9, 6)
         |      AS distinct_ratio,
         |    round(coalesce(top_bigram_n, 0) / greatest(n_tokens - 1, 1)
         |      + 1e-9, 6) AS top_bigram_frac
         |  FROM st LEFT JOIN top USING (doc_id)
         |), r AS (
         |  SELECT doc_id, n_tokens, mean_word_len,
         |    (n_tokens BETWEEN 10 AND 100000) AS r_len,
         |    (mean_word_len BETWEEN 3 AND 10) AS r_word_len,
         |    (n_stopwords >= 2) AS r_stop,
         |    (punct_ratio <= 0.1) AS r_punct,
         |    (round(top_bigram_frac + 1e-9, 6) <= 0.2
         |      AND round(distinct_ratio + 1e-9, 6) >= 0.5) AS r_rep
         |  FROM m
         |)
         |SELECT *, (r_len AND r_word_len AND r_stop AND r_punct AND r_rep)
         |  AS keep
         |FROM r ORDER BY doc_id""".stripMargin

  private lazy val oracles2: Map[String, String] = Map(

    "q_lang_id" -> {
      val markers = TA.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString(", ")
      }
      val scoreCols = markers.map { case (l, ms) =>
        s"CAST(len(list_filter(toks, t -> t IN ($ms))) AS BIGINT) AS score_$l"
      }.mkString(",\n    ")
      val langs = TA.LangMarkers.map(_._1)
      val caseChain = langs.map { l =>
        val geOthers = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN score_$l > 0 AND $geOthers THEN '$l'"
      }.mkString("\n    ")
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+') AS toks
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, lang,
         |    $scoreCols
         |  FROM t
         |)
         |SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
         |  CASE $caseChain ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[\s\x0b]+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    // Mirrors the Spark shape: explode → global DF cut (shingles in > 50
    // docs dropped from every doc's set; sizes recomputed on filtered sets)
    // → shared-shingle equi-join.
    "q_dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, n_chars // 50 AS len_band,
        |    list_distinct(list_transform(
        |      range(len(regexp_split_to_array(trim(text), '[\s\x0b]+')) - 2),
        |      i -> array_to_string(
        |        regexp_split_to_array(trim(text), '[\s\x0b]+')[i+1:i+3], ' '))) AS g
        |  FROM documents
        |), shx AS (
        |  SELECT doc_id, lang, len_band, unnest(g) AS s FROM sh
        |), shf AS (
        |  SELECT * FROM shx
        |  WHERE s NOT IN (SELECT s FROM shx GROUP BY s HAVING count(*) > 50)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n_g FROM shf GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM shf a JOIN shf b
        |    ON a.lang = b.lang AND a.len_band = b.len_band AND a.s = b.s
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b,
        |    CAST(n_inter AS DOUBLE) / (sa.n_g + sb.n_g - n_inter) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |)
        |SELECT id_a, id_b, round(jaccard + 1e-9, 6) AS jaccard
        |FROM pairs WHERE jaccard >= 0.05 ORDER BY id_a, id_b""".stripMargin,

    // Same band construction as Dedup.minHashLsh (identical affine params,
    // interpolated from Dedup.affineParams) — the band KEY differs
    // (slice-list equality here vs xxhash64 in Spark) but partitions
    // identically modulo 64-bit hash collisions.
    "q_minhash_lsh" -> {
      val agreeSum = (0 until MinhashNh)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCandsCte, agree AS (
         |  SELECT id_a, id_b, ($agreeSum) / $MinhashNh.0 AS sig_agreement
         |  FROM cands
         |  JOIN sig sa ON sa.doc_id = cands.id_a
         |  JOIN sig sb ON sb.doc_id = cands.id_b
         |)
         |SELECT id_a, id_b, sig_agreement FROM agree
         |WHERE sig_agreement >= 0.5 ORDER BY id_a, id_b""".stripMargin
    },

    // LSH candidates + EXACT Jaccard verification (the production two-stage
    // shape): the pairwise set math runs only on the LSH-pruned pairs
    "q_minhash_verified" ->
      s"""WITH $minhashCandsCte, g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(len(regexp_split_to_array(trim(text), '[\\s\\x0b]+')) - 2),
         |      i -> array_to_string(
         |        regexp_split_to_array(trim(text), '[\\s\\x0b]+')[i+1:i+3],
         |        ' '))) AS g
         |  FROM documents
         |), scored AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
         |      / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
         |      AS jac
         |  FROM cands
         |  JOIN g ga ON ga.doc_id = cands.id_a
         |  JOIN g gb ON gb.doc_id = cands.id_b
         |)
         |SELECT id_a, id_b, round(jac + 1e-9, 6) AS jaccard
         |FROM scored WHERE jac >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // Pairwise form (exact equivalent of the pigeonhole banding — banding
    // only prunes candidates, never changes the hamming<=3 answer set).
    "q_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Recursive-CTE transitive closure is the oracle twin of the iterative
    // min-label propagation (exact same fixpoint: min reachable id).
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $simhashCte, prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |), edges AS (
         |  SELECT id_a AS u, id_b AS v FROM prs
         |  UNION SELECT id_b, id_a FROM prs
         |), reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
         |), comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Same pair formula as q_embedding_neardup, same transitive closure
    // as q_dedup_clusters — composed.
    "q_semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_inner_product(a.v, b.v) /
        |      (NULLIF(sqrt(list_inner_product(a.v, a.v)), 0) *
        |       NULLIF(sqrt(list_inner_product(b.v, b.v)), 0)) + 1e-9, 6) >= 0.3
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM prs
        |  UNION SELECT id_b, id_a FROM prs
        |), reach(src, dst) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u
        |), comp AS (
        |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src
        |), labeled AS (
        |  SELECT emb.vec_id, coalesce(c.cluster_id, emb.vec_id) AS cluster_id
        |  FROM embeddings emb LEFT JOIN comp c USING (vec_id)
        |)
        |SELECT vec_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |  CAST(CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_keeper
        |FROM labeled ORDER BY vec_id""".stripMargin,

    // Same transitive closure as q_dedup_clusters + the q_text_stats
    // quality formula; keeper = argmax(rounded quality, min doc_id).
    "q_dedup_keeper" ->
      s"""WITH RECURSIVE $simhashCte, prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |), edges AS (
         |  SELECT id_a AS u, id_b AS v FROM prs
         |  UNION SELECT id_b, id_a FROM prs
         |), reach(src, dst) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
         |), comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), tq AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks
         |  FROM documents
         |), stq AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
         |      AS n_punct,
         |    CAST(len(list_filter(toks, t -> t IN ($StopSql))) AS BIGINT)
         |      AS n_stopwords
         |  FROM tq
         |), q AS (
         |  SELECT doc_id,
         |    round(least(n_tokens / 100.0, 1.0) * 0.3
         |      + (1.0 - least(CAST(n_punct AS DOUBLE)
         |          / greatest(n_tokens, 1), 1.0)) * 0.4
         |      + least(CAST(n_stopwords AS DOUBLE) * 5.0
         |          / greatest(n_tokens, 1), 1.0) * 0.3
         |      + 1e-9, 4) AS quality
         |  FROM stq
         |), cl AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |    q.quality
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |  JOIN q USING (doc_id)
         |), rk AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM cl
         |)
         |SELECT cluster_id, doc_id AS keeper_doc,
         |  CAST(n_members AS BIGINT) AS n_members, quality AS keeper_quality
         |FROM rk WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    // Flagship composition — the same building blocks as the q_dedup_exact,
    // q_lang_id, q_text_stats and q_train_split oracles, chained.
    "q_corpus_curation" -> {
      val langs = TA.LangMarkers.map(_._1)
      val scoreCols = TA.LangMarkers.map { case (l, ms) =>
        val in = ms.map(m => s"'$m'").mkString(", ")
        s"CAST(len(list_filter(ltoks, t -> t IN ($in))) AS BIGINT) AS score_$l"
      }.mkString(",\n    ")
      val caseChain = langs.map { l =>
        val geOthers = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN score_$l > 0 AND $geOthers THEN '$l'"
      }.mkString("\n    ")
      s"""WITH keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), d AS (
         |  SELECT documents.* FROM documents JOIN keepers USING (doc_id)
         |), t AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks,
         |    regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+') AS ltoks
         |  FROM d
         |), scored AS (
         |  SELECT doc_id, text, toks,
         |    $scoreCols
         |  FROM t
         |), lp AS (
         |  SELECT doc_id, text, toks,
         |    CASE $caseChain ELSE 'und' END AS lang_pred
         |  FROM scored
         |), st AS (
         |  SELECT doc_id, lang_pred,
         |    len(toks) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
         |      AS n_punct,
         |    CAST(len(list_filter(toks, t -> t IN ($StopSql))) AS BIGINT)
         |      AS n_stopwords
         |  FROM lp
         |), q AS (
         |  SELECT doc_id, lang_pred,
         |    round(least(n_tokens / 100.0, 1.0) * 0.3
         |      + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_tokens, 1), 1.0)) * 0.4
         |      + least(CAST(n_stopwords AS DOUBLE) * 5.0 / greatest(n_tokens, 1), 1.0) * 0.3
         |      + 1e-9, 4) AS quality
         |  FROM st
         |), gated AS (
         |  SELECT doc_id, lang_pred, quality,
         |    ('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100
         |      AS bkt
         |  FROM q WHERE quality >= 0.5
         |)
         |SELECT lang_pred,
         |  CASE WHEN bkt < 80 THEN 'train'
         |       WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n,
         |  round(avg(quality) + 1e-9, 4) AS avg_quality
         |FROM gated GROUP BY 1, 2 ORDER BY lang_pred, split""".stripMargin
    },

    "q_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0b]+'))
        |      AS t
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t
        |), idf AS (
        |  SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY t
        |), scored AS (
        |  SELECT doc_id, tf.t, tf, df,
        |    round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df)
        |      + 1e-9, 6) AS score
        |  FROM tf JOIN idf USING (t)
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, t) AS BIGINT) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, t, tf, df, score, rnk FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_vocab_topk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0b]+'))
        |      AS t
        |  FROM documents
        |)
        |SELECT t, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY t
        |ORDER BY tf DESC, t LIMIT 20""".stripMargin,

    // NULLIF on the norms everywhere below: a zero-norm vector yields NULL
    // cosine on the Spark side (unitVec's try_divide / Sq8Cosine contract
    // — sorts last, never ranks); without it DuckDB computes 0/0 = NaN,
    // which its ordering places FIRST under DESC.
    "q_ann_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(q.v, c.v) /
        |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
        |       NULLIF(sqrt(list_inner_product(c.v, c.v)), 0)) + 1e-9, 6)
        |      AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT * FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // mem mirrors Similarity.capPerBucket verbatim: md5-of-id order,
    // candidate side only, cap 40
    "q_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM e
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(q.v, c.v) /
        |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
        |       NULLIF(sqrt(list_inner_product(c.v, c.v)), 0)) + 1e-9, 6)
        |      AS cosine
        |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id
        |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT * FROM ranked WHERE rank <= 1 ORDER BY query_id""".stripMargin,

    "q_ann_multiprobe" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), uv AS (
        |  SELECT vec_id, label,
        |    list_transform(v,
        |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
        |  FROM e
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM e
        |), cent AS (
        |  SELECT label, t.i AS i, avg(v[t.i]) AS c
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
        |  GROUP BY label, t.i
        |), cvec AS (
        |  SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label
        |), cunit AS (
        |  SELECT label,
        |    list_transform(cv,
        |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
        |  FROM cvec
        |), probes AS (
        |  SELECT q.vec_id AS query_id, c.label AS bkt,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_inner_product(q.q, c.cu) + 1e-9, 6) DESC,
        |        c.label) AS pr
        |  FROM uv q CROSS JOIN cunit c
        |), cand AS (
        |  SELECT p.query_id, nv.vec_id AS neighbor_id,
        |    round(list_inner_product(qv.q, nv.q) + 1e-9, 6) AS cosine
        |  FROM probes p
        |  JOIN uv qv ON qv.vec_id = p.query_id
        |  JOIN uv nv ON nv.label = p.bkt AND nv.vec_id <> p.query_id
        |  JOIN mem m ON m.vec_id = nv.vec_id AND m.rn <= 40
        |  WHERE p.pr <= 2
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM cand
        |)
        |SELECT * FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_ann_sq8" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), dims AS (
        |  SELECT t.i AS i, min(v[t.i]) AS mn, max(v[t.i]) AS mx
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
        |  GROUP BY t.i
        |), d1 AS (
        |  SELECT list(coalesce(mn, 0) ORDER BY i) AS mnl,
        |    list(coalesce(mx - mn, 0) ORDER BY i) AS spanl
        |  FROM dims
        |), coded AS (
        |  SELECT vec_id, label,
        |    list_transform(range(1, len(v) + 1),
        |      i -> CASE WHEN spanl[i] > 0
        |        THEN CAST(round((v[i] - mnl[i]) * 255 / spanl[i]) AS INT)
        |        ELSE 0 END) AS code
        |  FROM e CROSS JOIN d1
        |), recon AS (
        |  SELECT vec_id, label,
        |    list_transform(range(1, len(code) + 1),
        |      i -> (CAST(code[i] AS DOUBLE) * spanl[i] / 255) + mnl[i]) AS r
        |  FROM coded CROSS JOIN d1
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM e
        |), approx AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    round(list_inner_product(a.r, b.r) /
        |      (NULLIF(sqrt(list_inner_product(a.r, a.r)), 0) *
        |       NULLIF(sqrt(list_inner_product(b.r, b.r)), 0)) + 1e-9, 6)
        |      AS approx
        |  FROM recon a JOIN recon b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id
        |  JOIN mem m ON m.vec_id = b.vec_id AND m.rn <= 40
        |), short AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY approx DESC, neighbor_id) AS ar
        |  FROM approx
        |), uv AS (
        |  SELECT vec_id,
        |    list_transform(v,
        |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
        |  FROM e
        |), cand AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
        |  FROM short s
        |  JOIN uv qa ON qa.vec_id = s.query_id
        |  JOIN uv qb ON qb.vec_id = s.neighbor_id
        |  WHERE s.ar <= 15
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM cand
        |)
        |SELECT * FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Asymmetric-PQ mirror: raw query slices against reconstructed
    // sub-centroids, query norm one sequential fold. See pqAdcOracleSql.
    "q_ann_pq_adc" -> pqAdcOracleSql,

    // Composed IVF-PQ mirror: shared coarse-Lloyd chain + per-cell mean
    // codebook + 2-probe ranking (as q_ann_ivf_sq8) with the PQ-SDC
    // score over four sub-Lloyd reconstructions. See ivfPqOracleSql.
    "q_ann_ivf_pq" -> ivfPqOracleSql,
    "q_ann_ivf_pq_res" -> ivfPqResOracleSql,
    "q_ann_recall" ->
      s"""WITH ap AS (
         |${ivfPqResOracleSql}
         |), pe AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE ${sqlBucket("recall", "vec_id")} < 20
         |), ce AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_inner_product(q.v, c.v) /
         |      (NULLIF(sqrt(list_inner_product(q.v, q.v)), 0) *
         |       NULLIF(sqrt(list_inner_product(c.v, c.v)), 0)) + 1e-9, 6)
         |      AS cosine
         |  FROM pe q JOIN ce c ON q.vec_id <> c.vec_id
         |), ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM sc) WHERE rank <= 5
         |)
         |SELECT ex.query_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*) + 1e-9, 6) AS recall
         |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id
         |  AND ap.neighbor_id = ex.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ann_search" -> ivfPqResSearchOracleSql,

    "q_ann_index_add" -> ivfPqResAddOracleSql,
    "q_ann_index_rekey" -> ivfPqResRekeyOracleSql,
    "q_ann_index_filtered" -> ivfPqResFilteredOracleSql,
    "q_ann_index_filtered_rekey" -> ivfPqResFilteredRekeyOracleSql,
    "q_hard_negatives" -> hardNegativesOracleSql,

    "q_domain_sample" ->
      s"""WITH $lloydAfCte, j AS (
         |  SELECT af.b AS cell, d.doc_id
         |  FROM documents d JOIN af ON af.vec_id = d.doc_id
         |), r AS (
         |  SELECT cell, doc_id,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY ${sqlHashKey("domain", "doc_id")}, doc_id)
         |      AS samp_rank
         |  FROM j
         |)
         |SELECT cell, doc_id, CAST(samp_rank AS BIGINT) AS samp_rank
         |FROM r WHERE samp_rank <= 10 ORDER BY cell, samp_rank""".stripMargin,

    "q_domain_profile" ->
      s"""WITH $lloydAfCte, j AS (
         |  SELECT af.b AS cell, d.doc_id, d.lang, d.source, d.n_chars
         |  FROM documents d JOIN af ON af.vec_id = d.doc_id
         |), pl AS (
         |  SELECT cell, lang AS top_lang, lc AS top_lang_docs FROM (
         |    SELECT cell, lang, CAST(count(*) AS BIGINT) AS lc,
         |      row_number() OVER (PARTITION BY cell
         |        ORDER BY count(*) DESC, lang) AS lr
         |    FROM j GROUP BY cell, lang) WHERE lr = 1
         |)
         |SELECT j.cell, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT j.lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT j.source) AS BIGINT) AS n_sources,
         |  CAST(sum(j.n_chars) AS BIGINT) AS total_chars,
         |  any_value(pl.top_lang) AS top_lang,
         |  CAST(any_value(pl.top_lang_docs) AS BIGINT) AS top_lang_docs,
         |  round(CAST(any_value(pl.top_lang_docs) AS DOUBLE) / count(*)
         |    + 1e-9, 4) AS top_lang_share
         |FROM j JOIN pl ON pl.cell = j.cell
         |GROUP BY j.cell ORDER BY j.cell""".stripMargin,

    // Product-quantization mirror: four per-subspace Lloyd replays
    // (smallest-id init, one refine) reconstruct each doc as its assigned
    // sub-centroids; the SDC score sums per-subspace inner products in
    // subspace order, then the sq8-shaped capped bucket join + exact
    // re-rank. See pqOracleSql/pqSubCte.
    "q_ann_pq" -> pqOracleSql,
    // the facade-default geometry: EIGHT sub-Lloyd replays over 8-wide
    // slices — same generator, m parameterized
    "q_ann_pq_m8" -> pqOracleSqlFrom(
      """e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |)""".stripMargin, m = 8),
    "q_ann_pq_rot" -> pqRotOracleSql,

    // Deterministic Lloyd mirror: init = 8 smallest-id vectors, two
    // unrolled assign/recenter iterations (empty cells coalesce to the
    // previous center), distances guard-rounded to 6dp with lowest-index
    // tiebreak — then the capped bucket join, all per the Spark side.
    "q_ann_kmeans" ->
      s"""WITH $lloydAfCte, uv AS (
        |  SELECT vec_id,
        |    list_transform(v,
        |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
        |  FROM e
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY b
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM af
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
        |  FROM af q JOIN af c ON c.b = q.b AND c.vec_id <> q.vec_id
        |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
        |  JOIN uv qa ON qa.vec_id = q.vec_id
        |  JOIN uv qb ON qb.vec_id = c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT * FROM ranked WHERE rank <= 1 ORDER BY query_id""".stripMargin,

    // Sampled-training Lloyd mirror: init + both recenters read the
    // md5-bucket 10% sample (`es` — the exact Sampling.hashBucket
    // predicate), the final assignment covers every vector, then the
    // same capped bucket join as q_ann_kmeans.
    "q_ann_ivf_sampled" ->
      s"""WITH $lloydAfSampledCte, uv AS (
        |  SELECT vec_id,
        |    list_transform(v,
        |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
        |  FROM e
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY b
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM af
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
        |  FROM af q JOIN af c ON c.b = q.b AND c.vec_id <> q.vec_id
        |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
        |  JOIN uv qa ON qa.vec_id = q.vec_id
        |  JOIN uv qb ON qb.vec_id = c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT * FROM ranked WHERE rank <= 1 ORDER BY query_id""".stripMargin,

    // Hyperplane signature mirror: the SAME integer-hash plane formula as
    // Similarity.planeComponent (exact in both engines — no
    // transcendentals), projections guard-rounded to 6dp before the sign
    // test, then the capped bucket join per q_ann_ivf.
    "q_ann_hyperplane" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |), pl AS (
        |  SELECT p.p AS p,
        |    list(((j.j * 2654435761 + (p.p + 1) * 40503) % 2001) / 1000.0
        |      - 1.0 ORDER BY j.j) AS w
        |  FROM range(0, 4) p(p), range(0, 64) j(j)
        |  GROUP BY p.p
        |), proj AS (
        |  SELECT e.vec_id, pl.p,
        |    round(list_inner_product(e.v, pl.w) + 1e-9, 6) AS pr
        |  FROM e CROSS JOIN pl
        |), sig AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS BIGINT)
        |      AS hb
        |  FROM proj GROUP BY vec_id
        |), mem AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY hb
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM sig
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(qv.v, cv.v) /
        |      (NULLIF(sqrt(list_inner_product(qv.v, qv.v)), 0) *
        |       NULLIF(sqrt(list_inner_product(cv.v, cv.v)), 0)) + 1e-9, 6)
        |      AS cosine
        |  FROM sig q JOIN sig c ON q.hb = c.hb AND q.vec_id <> c.vec_id
        |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
        |  JOIN e qv ON qv.vec_id = q.vec_id
        |  JOIN e cv ON cv.vec_id = c.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT * FROM ranked WHERE rank <= 1 ORDER BY query_id""".stripMargin,

    // Composed production pipeline mirror: Lloyd cells (shared chain) →
    // per-cell mean centroid codebook → 2-probe ranking → SQ8 codes score
    // the probed candidates through the reconstructed vectors → exact
    // re-rank of the top-15 shortlist, all per the Spark side.
    "q_ann_ivf_sq8" ->
      s"""WITH $lloydAfCte, cb AS (
         |  SELECT af.b, t.i AS i, avg(e.v[t.i]) AS c
         |  FROM e JOIN af USING (vec_id),
         |    unnest(range(1, len(e.v) + 1)) AS t(i)
         |  GROUP BY af.b, t.i
         |), cbl AS (
         |  SELECT b, list(c ORDER BY i) AS cv FROM cb GROUP BY b
         |), cbu AS (
         |  SELECT b,
         |    list_transform(cv,
         |      x -> x / NULLIF(sqrt(list_inner_product(cv, cv)), 0)) AS cu
         |  FROM cbl
         |), uv AS (
         |  SELECT vec_id,
         |    list_transform(v,
         |      x -> x / NULLIF(sqrt(list_inner_product(v, v)), 0)) AS q
         |  FROM e
         |), probes AS (
         |  SELECT vec_id AS query_id, b FROM (
         |    SELECT u.vec_id, c.b,
         |      row_number() OVER (PARTITION BY u.vec_id
         |        ORDER BY round(list_inner_product(u.q, c.cu) + 1e-9, 6)
         |          DESC, c.b) AS pr
         |    FROM uv u CROSS JOIN cbu c) WHERE pr <= 2
         |), dims AS (
         |  SELECT t.i AS i, min(v[t.i]) AS mn, max(v[t.i]) AS mx
         |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
         |  GROUP BY t.i
         |), dl AS (
         |  SELECT list(coalesce(mn, 0) ORDER BY i) AS mnl,
         |    list(coalesce(mx - mn, 0) ORDER BY i) AS spanl
         |  FROM dims
         |), coded AS (
         |  SELECT vec_id,
         |    list_transform(range(1, len(v) + 1),
         |      i -> CASE WHEN spanl[i] > 0
         |        THEN CAST(round((v[i] - mnl[i]) * 255 / spanl[i]) AS INT)
         |        ELSE 0 END) AS code
         |  FROM e CROSS JOIN dl
         |), recon AS (
         |  SELECT vec_id,
         |    list_transform(range(1, len(code) + 1),
         |      i -> (CAST(code[i] AS DOUBLE) * spanl[i] / 255) + mnl[i]) AS r
         |  FROM coded CROSS JOIN dl
         |), mem AS (
         |  SELECT vec_id,
         |    row_number() OVER (PARTITION BY b
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM af
         |), approx AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    round(list_inner_product(ra.r, rb.r) /
         |      (NULLIF(sqrt(list_inner_product(ra.r, ra.r)), 0) *
         |       NULLIF(sqrt(list_inner_product(rb.r, rb.r)), 0)) + 1e-9, 6)
         |      AS approx
         |  FROM probes p
         |  JOIN af c ON c.b = p.b AND c.vec_id <> p.query_id
         |  JOIN mem m ON m.vec_id = c.vec_id AND m.rn <= 40
         |  JOIN recon ra ON ra.vec_id = p.query_id
         |  JOIN recon rb ON rb.vec_id = c.vec_id
         |), short AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS ar
         |  FROM approx
         |), cand AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    round(list_inner_product(qa.q, qb.q) + 1e-9, 6) AS cosine
         |  FROM short s
         |  JOIN uv qa ON qa.vec_id = s.query_id
         |  JOIN uv qb ON qb.vec_id = s.neighbor_id
         |  WHERE s.ar <= 15
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM cand
         |)
         |SELECT * FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |), scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_inner_product(a.v, b.v) /
        |      (NULLIF(sqrt(list_inner_product(a.v, a.v)), 0) *
        |       NULLIF(sqrt(list_inner_product(b.v, b.v)), 0)) + 1e-9, 6)
        |      AS cosine
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT * FROM scored WHERE cosine >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_topk_quality_per_lang" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, lang,
         |    len(toks) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN ($StopSql))) AS BIGINT)
         |      AS n_stopwords
         |  FROM t
         |), q AS (
         |  SELECT doc_id, lang,
         |    round(least(n_tokens / 100.0, 1.0) * 0.3
         |      + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_tokens, 1), 1.0)) * 0.4
         |      + least(CAST(n_stopwords AS DOUBLE) * 5.0 / greatest(n_tokens, 1), 1.0) * 0.3
         |      + 1e-9, 4) AS quality
         |  FROM st
         |), ranked AS (
         |  SELECT lang, doc_id, quality,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY quality DESC, doc_id) AS BIGINT) AS "rank"
         |  FROM q
         |)
         |SELECT lang, doc_id, quality, "rank" FROM ranked
         |WHERE "rank" <= 3 ORDER BY lang, "rank"""".stripMargin,

    // coalesce mirrors Multimodal.asMedia (null text → empty payload, null
    // source → 'unknown'); without it a null-bearing dataset would diverge
    // from the Spark side even though current testdata has no nulls
    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(coalesce(text, ''))) AS byte_len,
        |         octet_length(encode(coalesce(text, ''))) % 24 + 1 AS n_frames
        |  FROM documents
        |)
        |SELECT doc_id, CAST(t.i AS BIGINT) AS frame_idx,
        |       CAST(byte_len % 640 + 16 AS BIGINT) AS frame_w,
        |       CAST((byte_len * 7) % 480 + 16 AS BIGINT) AS frame_h,
        |       CAST(byte_len * 31 + t.i AS BIGINT) AS frame_hash,
        |       FALSE AS raster
        |FROM m, unnest(range(0, n_frames, 4)) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Real-raster resize: the oracle predicts the letterboxed dimensions
    // (two IEEE divisions, min, multiply, floor — bit-identical in both
    // engines) of synthetic PNGs whose geometry derives from fixture
    // columns; the Spark side RE-DECODES the produced PNG bytes, so a hash
    // match certifies the decode→resample→encode→decode chain
    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    octet_length(encode(coalesce(text, ''))) % 96 + 32 AS w,
        |    doc_id % 64 + 24 AS h
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, w, h, least(1.0, least(64.0 / w, 48.0 / h)) AS sc
        |  FROM m
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(greatest(1, floor(w * sc)) AS BIGINT) AS resized_w,
        |  CAST(greatest(1, floor(h * sc)) AS BIGINT) AS resized_h,
        |  TRUE AS raster
        |FROM s ORDER BY doc_id""".stripMargin,

    // Real frame extraction over synthetic multi-page TIFFs: per-frame
    // dimensions come from actually-decoded rasters on the Spark side
    "q_multimodal_framex" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    octet_length(encode(coalesce(text, ''))) % 48 + 16 AS w,
        |    doc_id % 32 + 16 AS h,
        |    doc_id % 4 + 2 AS nf
        |  FROM documents
        |)
        |SELECT doc_id, CAST(t.i AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS frame_w, CAST(h AS BIGINT) AS frame_h,
        |  TRUE AS raster
        |FROM m, unnest(range(0, nf, 2)) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 * (doc_id % 4 + 1) AS BIGINT) AS rate,
        |    CAST(20 + (doc_id % 5) * 10 AS BIGINT) AS ms,
        |    CAST(220 + (doc_id % 12) * 55 AS BIGINT) AS f
        |  FROM documents
        |), sz AS (
        |  SELECT doc_id, rate, ms, f, rate * ms / 1000 AS n FROM p
        |), x AS MATERIALIZED (
        |  SELECT sz.doc_id, sz.rate, sz.ms, sz.n,
        |    floor(0.5 * 32767 * sin(2 * pi() * sz.f * t.i / sz.rate) + 0.5)
        |      / 32768.0 AS v
        |  FROM sz, unnest(generate_series(0, CAST(sz.n AS BIGINT) - 1))
        |    AS t(i)
        |)
        |SELECT doc_id, CAST(44 + 2 * n AS BIGINT) AS byte_len,
        |  rate AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples, ms AS duration_ms,
        |  round(sqrt(sum(v * v) / n) + 1e-9, 6) AS rms,
        |  round(max(abs(v)) + 1e-9, 6) AS peak
        |FROM x GROUP BY doc_id, rate, ms, n
        |ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    octet_length(encode(coalesce(text, ''))) AS byte_len,
        |    'img/' || coalesce(source, 'unknown') AS format
        |  FROM documents
        |)
        |SELECT doc_id, byte_len,
        |  byte_len % 640 + 16 AS width,
        |  (byte_len * 7) % 480 + 16 AS height,
        |  byte_len % 24 + 1 AS n_frames,
        |  format
        |FROM m ORDER BY doc_id""".stripMargin
  )
}
