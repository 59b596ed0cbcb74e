package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.sources.Tables

/** Similarity-search pack over the `embeddings` table (Array[Float]
  * column): brute-force cosine top-k as the exact baseline, a kNN join,
  * and a random-hyperplane LSH bucketing as the scale path.
  *
  * Design for 100 TB:
  *  - brute-force: the query side is broadcast (one or few vectors);
  *    the corpus scan is embarrassingly parallel and the top-k is
  *    TakeOrderedAndProject (per-partition heaps, no global sort)
  *  - kNN join: per-query row_number window — partition count = number
  *    of queries, so this is the small-query-set shape; for large query
  *    sets the LSH path bounds the pair space first
  *  - LSH: deterministic integer hyperplanes (engine-reproducible, no
  *    RNG); bucket id is a per-row fold — the subsequent search joins
  *    only within a bucket, turning all-pairs into an equi-join on
  *    bucket id that AQE can skew-split
  *  - norms are computed once per vector; dot products are codegen'd
  *    zip_with/aggregate folds over the double-cast array
  */
object SimilarityQueries extends QueryPack {

  /** vectors with double cast + squared norm (shared ops in
    * operators.VectorOps — same helpers back the dedup pack)
    */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.registerNative(s)
    VectorOps.vecs(Tables.embeddings(s, d)).select("vec_id", "label", "v", "nn")
  }

  /** codegen'd native dot/cosine (graft.functions.CosineSim) — the
    * higher-order `aggregate(zip_with(...))` formulation evaluates its
    * lambdas interpreted; same left-to-right fold, bit-identical
    * results, one fused compiled loop
    */
  private val cosExpr = expr("cosine_sim(qv, v, qn, nn)")

  private val bucketExpr = VectorOps.bucket
  private val duckVecs = VectorOps.duckVecs
  private val duckBucket = VectorOps.duckBucket

  /** DuckDB restatement of `KMeansLite.fit(k=4, iters=1)`: hash-ordered
    * deterministic init (k smallest by (md5(id), id)) → compiled argmin
    * assignment → decimal-exact per-dim means finalized round-6. Yields
    * `c1(cid, cv)` — the trained codebook the s8/s9/s10 oracles
    * consume. ONE copy of the trainer SQL: this is `duckKmeansOn` with
    * a vacuous training filter (te = e); s15 instantiates the same
    * chain over the original-population subset.
    */
  private lazy val duckKmeans = duckKmeansOn("1 = 1")

  /** trained 4-centroid codebook shared by s8/s9/s10 (deterministic;
    * one Lloyd iteration keeps the oracle restatement tractable).
    * Trained ONCE per (session, data dir) and memoized — a deployment
    * trains a codebook once and serves many queries from it; the cache
    * key includes the session so a restarted session (or another
    * session in the same JVM) retrains rather than reusing stale state.
    */
  private val trainedNlist = 4

  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, Array[Double])]]()

  /** fit-count telemetry: specs assert the cache collapses s8/s9/s10
    * to one training run */
  private[graft] val codebookFits = new java.util.concurrent.atomic.AtomicInteger(0)

  private def trainedCodebook(s: SparkSession, d: String): Seq[(Int, Array[Double])] =
    codebookCache.computeIfAbsent((s, d), { _ =>
      codebookFits.incrementAndGet()
      graft.operators.KMeansLite.fit(vecs(s, d), "vec_id", "v", trainedNlist, 1)
    })

  /** s15's STALE codebook: trained on the original population only
    * (vec_id % 4 != 3 — s14's split), then frozen while the appended
    * quarter lands. Memoized like trainedCodebook.
    */
  private val staleCodebookCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, Array[Double])]]()

  private def staleCodebook(s: SparkSession, d: String): Seq[(Int, Array[Double])] =
    staleCodebookCache.computeIfAbsent((s, d), { _ =>
      graft.operators.KMeansLite.fit(
        vecs(s, d).where(col("vec_id") % 4 =!= 3), "vec_id", "v", 4, 1)
    })

  /** codebook entries with their squared norms — the (cid, cv, ‖cv‖²)
    * shape ivfAssignUdf/ivfProbeUdf consume (one copy; previously
    * pasted per gate)
    */
  private def withNorms(cb: Seq[(Int, Array[Double])]): Seq[(Long, Array[Double], Double)] =
    cb.map { case (cid, cv) =>
      var nn = 0.0
      var i = 0
      while (i < cv.length) { nn += cv(i) * cv(i); i += 1 }
      (cid.toLong, cv, nn)
    }

  /** The SHARED s13-s30 serve path over a persisted cell store:
    * nprobe=2 probes for queries vec_id < 3 (collected — bounded driver
    * state), a PARTITION-PRUNED read of the probed cells' bucket
    * directories (VectorOps.prunedCellScanFromFrame: the store reader
    * resolves the probed dirs of every generation ≤ asOf and drops
    * `gen`), broadcast cell equi-join, exact cosine top-5. One copy —
    * the gates differ only in how the index got onto disk. `cents` is
    * used ONLY to build the default single-level probe; when `probe` is
    * supplied (the two-level gates) the codebook plays no role in the
    * serve — routing lives entirely in the probe UDF.
    */
  private def serveTopkFromIndex(s: SparkSession, idxDir: String,
                                 cents: Seq[(Long, Array[Double], Double)],
                                 e: DataFrame,
                                 asOf: Option[Long] = None,
                                 probe: Option[org.apache.spark.sql.expressions.UserDefinedFunction] = None,
                                 probeDf: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // probe routing: a UDF (single- / two-level closure codebooks) or a
    // pre-computed (qid, cell) DataFrame (the centroids-as-DataFrame
    // tier's ivfProbeHierDist — s25) joined to the query vectors; the
    // serve downstream is identical either way
    val qBase = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
    val q = probeDf
      .map(p => qBase.join(p, Seq("qid")))
      .getOrElse {
        val probeUdf = probe.getOrElse(VectorOps.ivfProbeUdf(cents, 2))
        qBase.withColumn("cell", explode(probeUdf(col("qv"), col("qn"))))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally so the s22/s28-style LOUD-REFUSAL paths (the as-of
    // horizon / Int-range checks of the store reader under
    // prunedCellScanFromFrame, which run after the persist) release the
    // probe cache too — a refusal per serve
    // must not leak a pinned frame (ADVICE r14, low)
    try {
      // cell ids stay LONG end-to-end (the store's cell is a bigint
      // data column; its id space is the dist tier's k ≈ 10¹⁰); the
      // scan itself — B from the __layout marker, the
      // static bucket prune / literal-vs-semi-join cell filter size
      // dispatch, the as-of horizon contract, the marker type assert —
      // is VectorOps.prunedCellScanFromFrame (the serve feeds the probe
      // FRAME, so the driver materializes at most 128 cells or B
      // buckets — never the full probed-cell set of a large query batch)
      val index = VectorOps.prunedCellScanFromFrame(
        s, idxDir, q.select("cell"), asOf)
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      val topk = index
        .join(broadcast(q), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("cos", round(cosExpr, 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("bigint").as("rank"),
          col("vec_id"), col("cos"))
      // materialize the (queries×k row) result so the probe cache can be
      // released deterministically NOW — three gates run through here per
      // session/bench pass and must not pin probe frames until GC
      s.createDataFrame(topk.rdd, topk.schema)
    } finally q.unpersist()
  }

  /** hash-ordered k-seed init CTE (`<p>c0(cid, cv)`) — KMeansLite's
    * seedInit restated; shared by the brute and hierarchical trainers
    */
  private def duckSeeds(p: String, kSql: String) =
    s"""${p}c0 AS (SELECT cast(r - 1 as int) AS cid, v AS cv FROM (
                 SELECT *, row_number() OVER (
                   ORDER BY md5(cast(vec_id as varchar)), vec_id) AS r FROM te)
               WHERE r <= ($kSql))"""

  /** decimal-exact per-(cid, dim) Lloyd means finalized round-6
    * (`<out>(cid, cv)` from an assigned population `<from>(vec_id, v,
    * cid)`) — KMeansLite's lloydMeans restated, one copy
    */
  private def duckLloydMeans(out: String, from: String) =
    s"""$out AS (SELECT cid, list(m ORDER BY dim) AS cv FROM (
                 SELECT cid, dim,
                   round(cast(sum(x) / count(*) as double), 6) AS m
                 FROM (SELECT cid,
                         unnest(list_transform(v, x -> cast(x as decimal(25,10)))) AS x,
                         generate_subscripts(v, 1) AS dim
                       FROM $from)
                 GROUP BY cid, dim) GROUP BY cid)"""

  /** keep-seed finalization (the fit() contract: a cluster that loses
    * every member KEEPS its previous centroid — `means.getOrElse(cid,
    * old)`): `<out>` = the Lloyd means over `<from>` unioned with the
    * `<seeds>` rows whose cid attracted no member. The oracles
    * previously consumed the means alone — latent (a memberless cell
    * never arose in gated data) but a corpus producing one would
    * hash-mismatch the Scala keep-seed semantics; the union is the
    * restatement of getOrElse and costs nothing when no cell is empty.
    */
  private def duckKeepSeedMeans(out: String, from: String, seeds: String) =
    s"""${duckLloydMeans(s"${out}m", from)},
        $out AS (SELECT * FROM ${out}m
               UNION ALL
               SELECT cid, cv FROM $seeds
               WHERE cid NOT IN (SELECT cid FROM ${out}m))"""

  /** the brute one-iteration Lloyd chain `<p>c0 → <p>d1 → <p>a1 →
    * <p>c1` over the training population `te` — fit(k, iters=1)
    */
  private def duckKmeansBody(p: String, kSql: String) =
    s"""${duckSeeds(p, kSql)},
        ${p}d1 AS (SELECT te.vec_id, te.v, c.cid,
                 list_aggregate(list_transform(range(1, len(te.v) + 1),
                   i -> (te.v[i] - c.cv[i]) * (te.v[i] - c.cv[i])), 'sum') AS dd
               FROM te CROSS JOIN ${p}c0 c),
        ${p}a1 AS (SELECT vec_id, v, cid FROM (
                 SELECT vec_id, v, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dd, cid) AS r FROM ${p}d1)
               WHERE r = 1),
        ${duckKeepSeedMeans(s"${p}c1", s"${p}a1", s"${p}c0")}"""

  /** duckKmeans trained on a FILTERED population (`te`) while `e` stays
    * the full corpus — the s15 oracle's frozen-codebook restatement.
    */
  private def duckKmeansOn(trainWhere: String, kSql: String = "4") =
    s"""e AS ($duckVecs),
        te AS (SELECT * FROM e WHERE $trainWhere),
        ${duckKmeansBody("", kSql)}"""

  /** TWO-LEVEL assignment restatement (KMeansLite
    * .assignHierarchicalUdf): each FINE centroid routes to its nearest
    * COARSE cell (ties to the lowest coarse cid), a vector routes the
    * same way and argmins only its cell's fine members; a vector whose
    * coarse cell owns NO fine members falls back to the full fine
    * argmin (the UNION ALL leg). Emits `<p>asg(vec_id, cid)` over the
    * population CTE `pop(vec_id, v)` under codebooks
    * `coarse(cid, cv)` / `fine(cid, cv)`.
    */
  private def duckHierAssign(p: String, pop: String,
                             coarse: String, fine: String) =
    s"""${p}fd AS (SELECT f.cid AS fcid, h.cid AS ccid,
                 list_aggregate(list_transform(range(1, len(f.cv) + 1),
                   i -> (f.cv[i] - h.cv[i]) * (f.cv[i] - h.cv[i])), 'sum') AS dd
               FROM $fine f CROSS JOIN $coarse h),
        ${p}fmap AS (SELECT fcid, ccid FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY fcid ORDER BY dd, ccid) AS r FROM ${p}fd)
               WHERE r = 1),
        ${p}vd AS (SELECT t.vec_id, h.cid AS ccid,
                 list_aggregate(list_transform(range(1, len(t.v) + 1),
                   i -> (t.v[i] - h.cv[i]) * (t.v[i] - h.cv[i])), 'sum') AS dd
               FROM $pop t CROSS JOIN $coarse h),
        ${p}vc AS (SELECT vec_id, ccid FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dd, ccid) AS r FROM ${p}vd)
               WHERE r = 1),
        ${p}cand AS (SELECT vc.vec_id, f.cid, f.cv
               FROM ${p}vc vc JOIN ${p}fmap m ON m.ccid = vc.ccid
               JOIN $fine f ON f.cid = m.fcid),
        ${p}cand2 AS (SELECT * FROM ${p}cand
               UNION ALL
               SELECT vc.vec_id, f.cid, f.cv
               FROM ${p}vc vc CROSS JOIN $fine f
               WHERE vc.vec_id NOT IN (SELECT vec_id FROM ${p}cand)),
        ${p}ad AS (SELECT c.vec_id, c.cid,
                 list_aggregate(list_transform(range(1, len(t.v) + 1),
                   i -> (t.v[i] - c.cv[i]) * (t.v[i] - c.cv[i])), 'sum') AS dd
               FROM ${p}cand2 c JOIN $pop t ON t.vec_id = c.vec_id),
        ${p}asg AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dd, cid) AS r FROM ${p}ad)
               WHERE r = 1)"""

  /** Full trained-IVF top-k restatement (codebook training → cell
    * assignment → nprobe=2 probing → in-cell cosine top-5) — shared by
    * s9 (in-memory serve) and s13 (serve from the PERSISTED cell-
    * partitioned index): the two gates differ only in where the index
    * rows come from, so they share one oracle. `corpusWhere` restricts
    * the SERVED population (s17's delete path — the codebook stays the
    * one trained before the deletion, frozen, exactly like the gate).
    */
  private def duckIvfTrainedTopkOn(corpusWhere: String) =
    s"""WITH $duckKmeans,
        c AS (SELECT cid, cv,
                list_aggregate(list_transform(cv, x -> x * x), 'sum') AS cn
              FROM c1),
        sim AS (SELECT e.vec_id, e.v, e.nn, c.cid,
                  list_aggregate(list_transform(range(1, len(c.cv) + 1),
                    i -> c.cv[i] * e.v[i]), 'sum') / (sqrt(c.cn) * sqrt(e.nn)) AS cs
                FROM e CROSS JOIN c),
        asg AS (SELECT vec_id, v, nn, cid AS cell FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cs DESC, cid) AS r FROM sim)
                WHERE r = 1 AND ($corpusWhere)),
        probe AS (SELECT vec_id AS qid, v AS qv, nn AS qn, cid AS cell FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cs DESC, cid) AS r FROM sim WHERE vec_id < 3)
                  WHERE r <= 2),
        p AS (SELECT probe.qid, asg.vec_id,
                round(list_aggregate(list_transform(range(1, len(probe.qv) + 1),
                  i -> probe.qv[i] * asg.v[i]), 'sum')
                  / (sqrt(probe.qn) * sqrt(asg.nn)), 6) AS cos
              FROM asg JOIN probe ON asg.cell = probe.cell
              WHERE asg.vec_id <> probe.qid)
        SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, vec_id) AS rank FROM p) WHERE rank <= 5"""

  private val duckIvfTrainedTopk = duckIvfTrainedTopkOn("TRUE")

  def all: Seq[Q] = Seq(

    // ---- Brute-force cosine top-k for one query vector (vec_id 0).
    Q("s1_cosine_topk",
      (s, d) => {
        val e = vecs(s, d)
        val q = e.where(col("vec_id") === 0).select(col("v").as("qv"), col("nn").as("qn"))
        e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .withColumn("cos", round(cosExpr, 6))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select("vec_id", "cos")
      },
      Some(s"""WITH e AS ($duckVecs),
              q AS (SELECT v AS qv, nn AS qn FROM e WHERE vec_id = 0)
              SELECT vec_id,
                round(list_aggregate(list_transform(range(1, len(qv) + 1),
                  i -> qv[i] * v[i]), 'sum') / (sqrt(qn) * sqrt(nn)), 6) AS cos
              FROM e CROSS JOIN q WHERE vec_id <> 0
              ORDER BY cos DESC, vec_id LIMIT 10""")),

    // ---- kNN join: top-3 neighbors for each of the first 5 vectors.
    Q("s2_knn_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("qid"), col("rank").cast("bigint").as("rank"), col("vec_id"), col("cos"))
      },
      Some(s"""WITH e AS ($duckVecs),
              q AS (SELECT vec_id AS qid, v AS qv, nn AS qn FROM e WHERE vec_id < 5),
              p AS (SELECT qid, vec_id,
                round(list_aggregate(list_transform(range(1, len(qv) + 1),
                  i -> qv[i] * v[i]), 'sum') / (sqrt(qn) * sqrt(nn)), 6) AS cos
                FROM e CROSS JOIN q WHERE vec_id <> qid)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
                FROM p) WHERE rank <= 3""")),

    // ---- LSH bucket histogram: the partition layout of the ANN index.
    Q("s3_lsh_buckets",
      (s, d) => vecs(s, d)
        .withColumn("bucket", bucketExpr.cast("bigint"))
        .groupBy("bucket").agg(count(lit(1)).as("n_vectors")),
      Some(s"""SELECT cast($duckBucket as bigint) AS bucket, count(*) AS n_vectors
              FROM ($duckVecs) GROUP BY 1""")),

    // ---- LSH-bucketed ANN: search only the query's bucket (the scale
    // path — equi-join on bucket id instead of a cross join).
    Q("s4_lsh_ann_topk",
      (s, d) => {
        val e = vecs(s, d).withColumn("bucket", bucketExpr)
        val q = e.where(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nn").as("qn"), col("bucket"))
        e.join(broadcast(q), "bucket")
          .where(col("vec_id") =!= 0)
          .withColumn("cos", round(cosExpr, 6))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("bucket").cast("bigint").as("bucket"), col("cos"))
      },
      Some(s"""WITH e AS (SELECT *, $duckBucket AS bucket FROM ($duckVecs)),
              q AS (SELECT v AS qv, nn AS qn, bucket FROM e WHERE vec_id = 0)
              SELECT vec_id, cast(e.bucket as bigint) AS bucket,
                round(list_aggregate(list_transform(range(1, len(qv) + 1),
                  i -> qv[i] * v[i]), 'sum') / (sqrt(qn) * sqrt(nn)), 6) AS cos
              FROM e JOIN q ON e.bucket = q.bucket WHERE vec_id <> 0
              ORDER BY cos DESC, vec_id LIMIT 5""")),

    // ---- MULTI-TABLE LSH ANN (the recall lever on the s4 path): L=4
    // independent hyperplane tables, the query probes its bucket in
    // EVERY table, candidates are the DISTINCT union — recall compounds
    // as 1-(1-p)^L while each table stays selective (AnnRecallSpec
    // measures 0.19 → ~0.5 recall@10 going 1 → 4 tables). The plane
    // families here are the engine-neutral arithmetic ones so the
    // oracle restates every plane; candidates stay an equi-join on
    // (table-disambiguated) bucket id — the same scale shape as s4,
    // L× the index rows.
    Q("s11_lsh_multitable_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val tables = 4
        val b = e.withColumn("t", explode(expr(s"sequence(0, ${tables - 1})")))
        val withBucket = (0 until tables).foldLeft(
          b.withColumn("bucket", lit(-1L)))((acc, t) =>
          acc.withColumn("bucket", when(col("t") === t,
            graft.operators.VectorOps.bucketTableOracle(4, t).cast("long") * tables + t)
            .otherwise(col("bucket"))))
        val q = withBucket.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("bucket"))
        val cand = withBucket.select("bucket", "vec_id")
          .join(broadcast(q), "bucket")
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        val qv = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        cand.join(e.select("vec_id", "v", "nn"), "vec_id")
          .join(broadcast(qv), "qid")
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
      },
      Some {
        val bucketCase = (0 until 4).map(t =>
          s"WHEN $t THEN (${graft.operators.VectorOps.duckBucketTable(4, t)}) * 4 + $t")
          .mkString("CASE t ", " ", " END")
        s"""WITH e AS ($duckVecs),
            bt AS (SELECT vec_id, v, nn, t, $bucketCase AS bucket
                   FROM e CROSS JOIN (SELECT unnest(range(4)) AS t)),
            q AS (SELECT vec_id AS qid, bucket FROM bt WHERE vec_id < 3),
            cand AS (SELECT DISTINCT q.qid, bt.vec_id
                     FROM bt JOIN q USING (bucket) WHERE bt.vec_id <> q.qid),
            scored AS (SELECT cand.qid, cand.vec_id,
                round(list_aggregate(list_transform(range(1, len(eq.v) + 1),
                  i -> eq.v[i] * ev.v[i]), 'sum') / (sqrt(eq.nn) * sqrt(ev.nn)), 6) AS cos
              FROM cand JOIN e ev ON cand.vec_id = ev.vec_id
                        JOIN e eq ON cand.qid = eq.vec_id)
            SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cos DESC, vec_id) AS rank FROM scored) WHERE rank <= 5"""
      }),

    // ---- PQ + EXACT RERANK (the production PQ serving shape): the ADC
    // scan produces a compressed-domain SHORTLIST (top-20), then full
    // vectors rerank ONLY the shortlist by exact cosine (AnnRecallSpec:
    // raw ADC order 0.075 recall@10 → 0.43 after rerank). At 100 TB the
    // ADC pass touches 4 ints/vector and the exact pass touches
    // |shortlist| vectors per query — full vectors never stream through
    // the scoring join.
    Q("s12_pq_rerank_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = e.where(col("vec_id") < 4)
          .select("vec_id", "v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).toSeq
        val enc = e.select(col("vec_id"),
          VectorOps.pqEncodeUdf(cents, 4)(col("v")).as("codes"))
        val qAdc = e.where(col("vec_id") < 2)
          .select(col("vec_id").as("qid"), VectorOps.pqAdcUdf(cents, 4)(col("v")).as("adc"))
        val wAdc = Window.partitionBy("qid").orderBy(col("dist").asc, col("vec_id"))
        val shortlist = enc.crossJoin(broadcast(qAdc))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("dist", round(
            expr("adc[0][codes[0]] + adc[1][codes[1]] + adc[2][codes[2]] + adc[3][codes[3]]"), 6))
          .withColumn("arank", row_number().over(wAdc))
          .where(col("arank") <= 20)
          .select("qid", "vec_id")
        val qv = e.where(col("vec_id") < 2)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        shortlist.join(e.select("vec_id", "v", "nn"), "vec_id")
          .join(broadcast(qv), "qid")
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
      },
      Some(s"""WITH e AS ($duckVecs),
              sub AS (SELECT unnest(range(4)) AS s),
              cb AS (SELECT e.vec_id AS cid, sub.s,
                       e.v[sub.s*16+1 : sub.s*16+16] AS cv
                     FROM e CROSS JOIN sub WHERE e.vec_id < 4),
              d AS (SELECT e.vec_id, cb.s, cb.cid,
                      list_aggregate(list_transform(range(1, 17),
                        i -> (e.v[cb.s*16 + i] - cb.cv[i]) * (e.v[cb.s*16 + i] - cb.cv[i])),
                        'sum') AS d2
                    FROM e CROSS JOIN cb),
              enc AS (SELECT vec_id, s, cid FROM (
                        SELECT vec_id, s, cid, row_number() OVER (
                          PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM d)
                      WHERE r = 1),
              adc AS (SELECT vec_id AS qid, s, cid, d2 FROM d WHERE vec_id < 2),
              pair AS (SELECT adc.qid, enc.vec_id,
                         max(CASE WHEN enc.s = 0 THEN adc.d2 END) AS d0,
                         max(CASE WHEN enc.s = 1 THEN adc.d2 END) AS d1,
                         max(CASE WHEN enc.s = 2 THEN adc.d2 END) AS d2_,
                         max(CASE WHEN enc.s = 3 THEN adc.d2 END) AS d3
                       FROM enc JOIN adc ON enc.s = adc.s AND enc.cid = adc.cid
                       WHERE enc.vec_id <> adc.qid
                       GROUP BY 1, 2),
              short AS (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id, round(d0 + d1 + d2_ + d3, 6) AS dist,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(d0 + d1 + d2_ + d3, 6), vec_id) AS arank
                          FROM pair) WHERE arank <= 20),
              scored AS (SELECT short.qid, short.vec_id,
                  round(list_aggregate(list_transform(range(1, len(eq.v) + 1),
                    i -> eq.v[i] * ev.v[i]), 'sum') / (sqrt(eq.nn) * sqrt(ev.nn)), 6) AS cos
                FROM short JOIN e ev ON short.vec_id = ev.vec_id
                           JOIN e eq ON short.qid = eq.vec_id)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rank FROM scored) WHERE rank <= 5""")),

    // ---- IVF-ANN (the second scale path next to LSH s4): a small
    // data-sampled centroid codebook (vec_id < 8 — the cheap-index
    // variant; s9 runs the same machinery with TRAINED k-means cells),
    // ZERO-shuffle cell assignment via a compiled argmax pass,
    // nprobe=2 probing, and search restricted to the probed cells — a
    // broadcast equi-join on cell id, never the full corpus. Collecting
    // the 8-row codebook at build time is the IVF design (the codebook
    // IS driver/broadcast state). NOT the production tier: s6 gates the
    // cheap sampled index; the trained-codebook sibling s9_ivf_kmeans
    // is the path a deployment would run.
    Q("s6_ivf_ann_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = e.where(col("vec_id") < 8)
          .select("vec_id", "v", "nn").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
          .sortBy(_._1).toSeq
        val assigned = e
          .withColumn("cell", VectorOps.ivfAssignUdf(cents)(col("v"), col("nn")))
        val q = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
            explode(VectorOps.ivfProbeUdf(cents, 2)(col("v"), col("nn"))).as("cell"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        assigned.join(broadcast(q), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
      },
      Some(s"""WITH e AS ($duckVecs),
              c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM e WHERE vec_id < 8),
              sim AS (SELECT e.vec_id, e.v, e.nn, c.cid,
                        list_aggregate(list_transform(range(1, len(c.cv) + 1),
                          i -> c.cv[i] * e.v[i]), 'sum') / (sqrt(c.cn) * sqrt(e.nn)) AS cs
                      FROM e CROSS JOIN c),
              asg AS (SELECT vec_id, v, nn, cid AS cell FROM (
                        SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid) AS r FROM sim) WHERE r = 1),
              probe AS (SELECT vec_id AS qid, v AS qv, nn AS qn, cid AS cell FROM (
                        SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid) AS r FROM sim WHERE vec_id < 3)
                        WHERE r <= 2),
              p AS (SELECT probe.qid, asg.vec_id,
                      round(list_aggregate(list_transform(range(1, len(probe.qv) + 1),
                        i -> probe.qv[i] * asg.v[i]), 'sum')
                        / (sqrt(probe.qn) * sqrt(asg.nn)), 6) AS cos
                    FROM asg JOIN probe ON asg.cell = probe.cell
                    WHERE asg.vec_id <> probe.qid)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rank FROM p) WHERE rank <= 5""")),

    // ---- PQ-ANN (third ANN tier next to LSH s4 and IVF s6): product
    // quantization — 4 subspaces of 16 dims, data-sampled sub-codebooks
    // (vec_id < 4; cids are therefore the contiguous 0..3 the ADC table
    // indexes by — s10 runs the same machinery with TRAINED k-means
    // sub-codebooks), corpus encoded to 4 small ints per vector in one
    // compiled pass. Queries carry a precomputed ADC table (4×4
    // distances), so the per-pair score is 4 array lookups + 3 adds —
    // full vectors never travel to the scoring join. At 100 TB the
    // encoded corpus is ~128x smaller than the raw vectors. NOT the
    // production tier: s7 gates the cheap sampled sub-codebooks; the
    // trained sibling s10_pq_kmeans is the path a deployment would run.
    Q("s7_pq_ann_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = e.where(col("vec_id") < 4)
          .select("vec_id", "v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).toSeq
        val enc = e.select(col("vec_id"),
          VectorOps.pqEncodeUdf(cents, 4)(col("v")).as("codes"))
        val q = e.where(col("vec_id") < 2)
          .select(col("vec_id").as("qid"),
            VectorOps.pqAdcUdf(cents, 4)(col("v")).as("adc"))
        val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("vec_id"))
        enc.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("dist", round(
            expr("adc[0][codes[0]] + adc[1][codes[1]] + adc[2][codes[2]] + adc[3][codes[3]]"), 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("dist"))
      },
      Some(s"""WITH e AS ($duckVecs),
              sub AS (SELECT unnest(range(4)) AS s),
              cb AS (SELECT e.vec_id AS cid, sub.s,
                       e.v[sub.s*16+1 : sub.s*16+16] AS cv
                     FROM e CROSS JOIN sub WHERE e.vec_id < 4),
              d AS (SELECT e.vec_id, cb.s, cb.cid,
                      list_aggregate(list_transform(range(1, 17),
                        i -> (e.v[cb.s*16 + i] - cb.cv[i]) * (e.v[cb.s*16 + i] - cb.cv[i])),
                        'sum') AS d2
                    FROM e CROSS JOIN cb),
              enc AS (SELECT vec_id, s, cid FROM (
                        SELECT vec_id, s, cid, row_number() OVER (
                          PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM d)
                      WHERE r = 1),
              adc AS (SELECT vec_id AS qid, s, cid, d2 FROM d WHERE vec_id < 2),
              pair AS (SELECT adc.qid, enc.vec_id,
                         max(CASE WHEN enc.s = 0 THEN adc.d2 END) AS d0,
                         max(CASE WHEN enc.s = 1 THEN adc.d2 END) AS d1,
                         max(CASE WHEN enc.s = 2 THEN adc.d2 END) AS d2_,
                         max(CASE WHEN enc.s = 3 THEN adc.d2 END) AS d3
                       FROM enc JOIN adc ON enc.s = adc.s AND enc.cid = adc.cid
                       WHERE enc.vec_id <> adc.qid
                       GROUP BY 1, 2),
              scored AS (SELECT qid, vec_id,
                           round(d0 + d1 + d2_ + d3, 6) AS dist FROM pair)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY dist, vec_id) AS rank FROM scored) WHERE rank <= 5""")),

    // ---- Deterministic k-means (operators.KMeansLite): the codebook
    // trainer behind the IVF/PQ tiers — hash-ordered deterministic init
    // (unbiased on sorted/clustered input), one Lloyd update (compiled
    // argmin assign + decimal-exact per-dim means, quantized round-6
    // like s5), then the final assignment. The oracle restates
    // init → update → assign in full.
    Q("s8_kmeans_assign",
      (s, d) => {
        val e = vecs(s, d)
        val cents = trainedCodebook(s, d)
        e.select(col("vec_id"),
          graft.operators.KMeansLite.assignUdf(cents)(col("v"))
            .cast("bigint").as("cid"))
      },
      Some(s"""WITH $duckKmeans,
              d2 AS (SELECT e.vec_id, c.cid,
                       list_aggregate(list_transform(range(1, len(e.v) + 1),
                         i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), 'sum') AS dd
                     FROM e CROSS JOIN c1 c)
              SELECT vec_id, cast(cid as bigint) AS cid FROM (
                SELECT vec_id, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dd, cid) AS r FROM d2)
              WHERE r = 1""")),

    // ---- IVF with the TRAINED codebook: the s8 trainer's output flows
    // into the s6 probe/search machinery end-to-end — cells are k-means
    // cells, not samples. Same zero-shuffle assignment, nprobe=2,
    // broadcast equi-join on cell id; the oracle composes the full
    // trainer restatement with the IVF search.
    Q("s9_ivf_kmeans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = trainedCodebook(s, d).map { case (cid, cv) =>
          var nn = 0.0
          var i = 0
          while (i < cv.length) { nn += cv(i) * cv(i); i += 1 }
          (cid.toLong, cv, nn)
        }
        val assigned = e
          .withColumn("cell", VectorOps.ivfAssignUdf(cents)(col("v"), col("nn")))
        val q = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
            explode(VectorOps.ivfProbeUdf(cents, 2)(col("v"), col("nn"))).as("cell"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        assigned.join(broadcast(q), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
      },
      Some(duckIvfTrainedTopk)),

    // ---- IVF served from a PERSISTED index (the deployment shape of
    // s9): the trained-codebook assignment is written ONCE through the
    // store writer search_serve uses (VectorOps.committedCellAppendAuto:
    // `cell_bucket = cell % B` dirs, cell-sorted files). The query path
    // is a FRESH read of that index filtered to the probed cells (probe
    // list = nqueries×nprobe ids, collected — bounded driver state), so
    // the scan partition-prunes to the probed cells' bucket directories
    // and skips unprobed row groups (BucketedIvfSpec pins both in the
    // executed plan). Same top-k as s9 — build once, serve many; oracle
    // shared with s9 since only the serving path differs.
    Q("s13_ivf_index_served",
      (s, d) => {
        val (e, cents, assigned) = frozenAssign(s, d)
        val idxDir = Scratch.dir("graft_s13_").resolve("ivf").toString
        autoWriter(assigned(e), idxDir, -1L)
        serveTopkFromIndex(s, idxDir, cents, e)
      },
      Some(duckIvfTrainedTopk)),

    // ---- IVF index MAINTENANCE (the d13 story for vectors): new
    // embeddings land AFTER the index was built — they are assigned
    // under the FROZEN codebook (no retrain, no corpus re-encode) and
    // APPENDED to the cell store as a second generation. The serve
    // path is s13's and must see both generations — the oracle is the
    // full-corpus restatement, so any append loss, layout drift, or
    // double-write fails the hash. Maintenance cost tracks |batch|: one
    // zero-shuffle assignment pass plus one bucket shuffle of the batch.
    // s27 runs the same body with an explicit B.
    Q("s14_ivf_index_append",
      (s, d) => appendServe(s, d, "s14", autoWriter),
      Some(duckIvfTrainedTopk)),

    // ---- IVF STALENESS under the frozen codebook (the s14 risk,
    // measured and gated): appends under a codebook trained BEFORE the
    // appended population arrived degrade recall as the distribution
    // drifts — the appended vectors land in cells whose centroids never
    // saw them, so nprobe misses their true neighborhoods. The gate
    // trains on the original 3/4 (s14's split), freezes, assigns the
    // FULL corpus, and measures recall@5 of the nprobe=2 IVF search
    // against the exact brute-force top-5 for queries from BOTH
    // populations. `retrain` is the re-train trigger: mean appended
    // recall below the 0.8 threshold. The oracle restates the whole
    // thing — subset training, frozen assignment, both searches, the
    // per-query recall, and the trigger comparison — so the drift
    // measurement itself is hash-checked, at every SF. (Re-train cost
    // curve: PERF.md round 7, "IVF re-train cost curve".)
    Q("s15_ivf_staleness",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = withNorms(staleCodebook(s, d))
        val qids = Seq(0L, 1L, 2L, 3L, 7L, 11L)
        val assigned = e
          .withColumn("cell", VectorOps.ivfAssignUdf(cents)(col("v"), col("nn")))
        val qframe = e.where(col("vec_id").isin(qids: _*))
        val q = qframe
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
            explode(VectorOps.ivfProbeUdf(cents, 2)(col("v"), col("nn"))).as("cell"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val ivf5 = assigned.join(broadcast(q), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select("qid", "vec_id")
        val qv = qframe
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"))
        val ex5 = e.crossJoin(broadcast(qv))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select("qid", "vec_id")
        val rec = ex5
          // ivf5 is ≤ queries×k rows — broadcast, never a 30-row shuffle
          .join(broadcast(ivf5.withColumn("hit", lit(1L))), Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg((sum(coalesce(col("hit"), lit(0L))) / 5.0).as("recall"))
          .withColumn("population",
            when(col("qid") % 4 === 3, "appended").otherwise("original"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val appendedMean = rec.where(col("population") === "appended")
          .agg(avg("recall")).first().getDouble(0)
        rec.select(col("qid"), col("population"),
          round(col("recall"), 6).as("recall"),
          lit(appendedMean < 0.8).as("retrain"))
      },
      Some(s"""WITH ${duckKmeansOn("vec_id % 4 <> 3")},
              c AS (SELECT cid, cv,
                      list_aggregate(list_transform(cv, x -> x * x), 'sum') AS cn
                    FROM c1),
              sim AS (SELECT e.vec_id, e.v, e.nn, c.cid,
                        list_aggregate(list_transform(range(1, len(c.cv) + 1),
                          i -> c.cv[i] * e.v[i]), 'sum') / (sqrt(c.cn) * sqrt(e.nn)) AS cs
                      FROM e CROSS JOIN c),
              asg AS (SELECT vec_id, v, nn, cid AS cell FROM (
                        SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid) AS r FROM sim) WHERE r = 1),
              qids AS (SELECT * FROM (VALUES (0, 'original'), (1, 'original'),
                         (2, 'original'), (3, 'appended'), (7, 'appended'),
                         (11, 'appended')) AS t(qid, pop)),
              probe AS (SELECT vec_id AS qid, cid AS cell FROM (
                        SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid) AS r FROM sim
                        WHERE vec_id IN (SELECT qid FROM qids))
                        WHERE r <= 2),
              qv AS (SELECT vec_id AS qid, v AS qv, nn AS qn FROM e
                     WHERE vec_id IN (SELECT qid FROM qids)),
              ivf AS (SELECT probe.qid, asg.vec_id,
                        round(list_aggregate(list_transform(range(1, len(qv.qv) + 1),
                          i -> qv.qv[i] * asg.v[i]), 'sum')
                          / (sqrt(qv.qn) * sqrt(asg.nn)), 6) AS cos
                      FROM asg JOIN probe ON asg.cell = probe.cell
                                JOIN qv ON qv.qid = probe.qid
                      WHERE asg.vec_id <> probe.qid),
              ivf5 AS (SELECT qid, vec_id FROM (
                        SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY cos DESC, vec_id) AS rank FROM ivf)
                       WHERE rank <= 5),
              ex AS (SELECT qv.qid, e.vec_id,
                       round(list_aggregate(list_transform(range(1, len(qv.qv) + 1),
                         i -> qv.qv[i] * e.v[i]), 'sum')
                         / (sqrt(qv.qn) * sqrt(e.nn)), 6) AS cos
                     FROM e CROSS JOIN qv WHERE e.vec_id <> qv.qid),
              ex5 AS (SELECT qid, vec_id FROM (
                        SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY cos DESC, vec_id) AS rank FROM ex)
                      WHERE rank <= 5),
              rec AS (SELECT ex5.qid,
                        count(ivf5.vec_id) / 5.0 AS recall
                      FROM ex5 LEFT JOIN ivf5
                        ON ex5.qid = ivf5.qid AND ex5.vec_id = ivf5.vec_id
                      GROUP BY ex5.qid)
              SELECT rec.qid, qids.pop AS population,
                round(recall, 6) AS recall,
                (SELECT avg(recall) FROM rec r2 JOIN qids q2 ON r2.qid = q2.qid
                 WHERE q2.pop = 'appended') < 0.8 AS retrain
              FROM rec JOIN qids ON rec.qid = qids.qid""")),

    // ---- STREAMING IVF index maintenance (s16): the e18 story for
    // vectors — embeddings ARRIVE AS A STREAM and the cell store is
    // maintained per micro-batch under the frozen trained codebook
    // (assign is a zero-shuffle map over the batch; the corpus is never
    // re-encoded). Appends are EXACTLY-ONCE per batchId: each batch
    // publishes its own gen=<id> directory with one atomic rename
    // (VectorOps.committedCellAppendAuto), so at-least-once replay is a
    // pure skip — a plain append would double-ingest vectors, and
    // duplicate index rows change top-k (unlike the band index's EXISTS
    // semantics). Two landings are driven (streamHeldOut); the serve
    // afterwards is s13's and must see the backfill plus both streamed
    // generations — the oracle is the full-corpus restatement shared
    // with s9/s13/s14, so any append loss, duplication, or layout drift
    // fails the hash. s30 runs the same body with an explicit B.
    Q("s16_stream_ivf_append",
      (s, d) => streamServe(s, d, "s16", autoWriter),
      Some(duckIvfTrainedTopk)),

    // ---- IVF index DELETE (s17): the takedown path for the served
    // vector store — the CRUD face the keep-list tier got in d21, via
    // the SAME generalized rewrite (VectorOps.deleteFromBucketedCells
    // folds the generations AND drops the deleted vectors in one swap,
    // re-clustered so serves still prune and row-group-skip; the
    // manifest keeps any folded batch ids as replay skips). The
    // codebook stays FROZEN (deletes do not retrain, exactly like
    // appends under s14); the serve path is s13's and must see only
    // survivors — a query's top-k must back-fill from remaining in-cell
    // neighbors, which the restricted-population oracle restates
    // exactly (deleted vec 0 stays a valid EXTERNAL query: queries are
    // not corpus rows). s28 runs the same body with an explicit B.
    Q("s17_ivf_delete",
      (s, d) => deleteServe(s, d, "s17", autoWriter),
      Some(duckIvfTrainedTopkOn("vec_id % 9 <> 0"))),

    // ---- IVF SNAPSHOT serving (s18): d23's time-travel contract on
    // the vector store — "which index answered this query" is a
    // reproducibility requirement (eval runs, incident forensics), and
    // the generational layout gives it for free: as-of = the SAME
    // partition-pruned serve with a second prune level gen ≤ asOf on
    // the same scan. Three landings (backfill, two appends); the
    // snapshot at batch 0 must rank WITHOUT batch 1's vectors — any
    // leak shows up as a different top-k because later neighbors
    // displace earlier ones. Then compactBucketedCells folds the store
    // and the gate pins the horizon contract: the batch-0 snapshot now
    // REFUSES loudly (manifest max folded id > asOf), while the at-head
    // snapshot still equals the current serve (gen=-1 ≤ 1). Both
    // asserted in `asof_contract`; oracle = the frozen-codebook top-k
    // over exactly the ≤-batch-0 population. s29 runs the same body
    // with an explicit B.
    Q("s18_ivf_asof",
      (s, d) => asofServe(s, d, "s18", autoWriter),
      Some(s"""SELECT q.*, TRUE AS asof_contract FROM (
              ${duckIvfTrainedTopkOn("vec_id % 4 <> 3 OR vec_id % 8 = 3")}) q""")),

    // ---- PQ with the TRAINED codebook: the k-means centroids sliced
    // per subspace become the sub-codebooks (cids stay the contiguous
    // 0..3 the ADC table indexes by), corpus encoded to 4 small ints,
    // query scoring via the precomputed ADC table — the s7 machinery
    // with trained quantizers end-to-end.
    Q("s10_pq_kmeans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val cents = trainedCodebook(s, d).map { case (cid, cv) => (cid.toLong, cv) }
        val enc = e.select(col("vec_id"),
          VectorOps.pqEncodeUdf(cents, 4)(col("v")).as("codes"))
        val q = e.where(col("vec_id") < 2)
          .select(col("vec_id").as("qid"),
            VectorOps.pqAdcUdf(cents, 4)(col("v")).as("adc"))
        val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("vec_id"))
        enc.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("dist", round(
            expr("adc[0][codes[0]] + adc[1][codes[1]] + adc[2][codes[2]] + adc[3][codes[3]]"), 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("dist"))
      },
      Some(s"""WITH $duckKmeans,
              sub AS (SELECT unnest(range(4)) AS s),
              cb AS (SELECT c1.cid, sub.s,
                       c1.cv[sub.s*16+1 : sub.s*16+16] AS cv
                     FROM c1 CROSS JOIN sub),
              d AS (SELECT e.vec_id, cb.s, cb.cid,
                      list_aggregate(list_transform(range(1, 17),
                        i -> (e.v[cb.s*16 + i] - cb.cv[i]) * (e.v[cb.s*16 + i] - cb.cv[i])),
                        'sum') AS d2
                    FROM e CROSS JOIN cb),
              enc AS (SELECT vec_id, s, cid FROM (
                        SELECT vec_id, s, cid, row_number() OVER (
                          PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM d)
                      WHERE r = 1),
              adc AS (SELECT vec_id AS qid, s, cid, d2 FROM d WHERE vec_id < 2),
              pair AS (SELECT adc.qid, enc.vec_id,
                         max(CASE WHEN enc.s = 0 THEN adc.d2 END) AS d0,
                         max(CASE WHEN enc.s = 1 THEN adc.d2 END) AS d1,
                         max(CASE WHEN enc.s = 2 THEN adc.d2 END) AS d2_,
                         max(CASE WHEN enc.s = 3 THEN adc.d2 END) AS d3
                       FROM enc JOIN adc ON enc.s = adc.s AND enc.cid = adc.cid
                       WHERE enc.vec_id <> adc.qid
                       GROUP BY 1, 2),
              scored AS (SELECT qid, vec_id,
                           round(d0 + d1 + d2_ + d3, 6) AS dist FROM pair)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY dist, vec_id) AS rank FROM scored) WHERE rank <= 5""")),

    // ---- Per-label centroids: mean vector per class via posexplode +
    // decimal sums (order-independent — double summation order varies
    // across partitions). The embarrassingly-parallel shape of k-means
    // update / class-prototype computation.
    Q("s5_label_centroids",
      (s, d) => Tables.embeddings(s, d)
        // slice BEFORE the posexplode: the gated output keeps only dims
        // 0–7, and a dim filter above the Generate can't push below it —
        // exploding all 64 dims would shuffle 8× the needed rows (the
        // difference between 12.5 TB and 100 TB of shuffle at scale).
        .select(col("label").cast("bigint").as("label"),
          posexplode(expr(
            "transform(slice(embedding, 1, 8), x -> cast(x as decimal(20,10)))"))
            .as(Seq("dim", "component")))
        .groupBy("label", "dim")
        .agg(round((sum("component") / count(lit(1))).cast("double"), 6).as("centroid"))
        .select(col("label"), col("dim").cast("bigint").as("dim"), col("centroid")),
      Some("""SELECT cast(label as bigint) AS label, cast(dim - 1 as bigint) AS dim,
                round(cast(sum(component) / count(*) as double), 6) AS centroid
              FROM (SELECT label, unnest(list_transform(embedding,
                      x -> cast(x as decimal(20,10)))) AS component,
                      generate_subscripts(embedding, 1) AS dim
                    FROM embeddings)
              WHERE dim <= 8
              GROUP BY 1, 2""")),

    // ---- HYBRID retrieval with reciprocal-rank fusion (s19): the RAG
    // corpus-construction shape — a sparse BM25 leg (t26's exact
    // arithmetic via the shared bm25Contrib, so hybrid scoring can
    // never drift from the direct/served BM25 faces) and a dense
    // cosine leg (s1's shape), fused by RRF: score(d) = Σ_legs
    // 1/(60 + rank_leg(d)), the rank-only fusion that needs NO score
    // calibration between legs (Cormack et al., SIGIR'09). The
    // document/embedding tables share ids (doc_id = vec_id in the
    // synthetic corpus) — the join key a production pipeline carries
    // explicitly.
    //
    // Scale: each leg ends in a top-k (TakeOrderedAndProject — per-
    // partition heaps), so the fusion's full-outer join runs over
    // 2·k rows on the driver-side of data volume: fusion cost is
    // O(k), independent of corpus size. Ranks are exact ints; each
    // fused term is one IEEE division, and the two-term sum has a
    // fixed evaluation order — bit-identical across engines without
    // decimal staging. Both rank columns ride along (nullable where a
    // doc reached only one leg's top-k — the full-outer frontier the
    // rank-window formulation handles for free).
    Q("s19_hybrid_rrf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // sparse leg IS t26's plan — the shared bm25Topk, so the
        // hybrid can never drift from the direct face
        // 20 rows survive the limit — the global window is exact-k
        val sparse = TextQueries.bm25Topk(s, d, 20)
          .withColumn("r_sparse", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_sparse"))
        // dense leg == s1's plan, ranked, query = vec 0's embedding
        val e = vecs(s, d)
        val q = e.where(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nn").as("qn"))
        val dense = e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .withColumn("cos", round(cosExpr, 6))
          .orderBy(col("cos").desc, col("vec_id")).limit(20)
          .withColumn("r_dense", row_number().over(
            Window.orderBy(col("cos").desc, col("vec_id"))))
          .select(col("vec_id").as("doc_id"), col("r_dense"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            col("r_sparse").cast("bigint").as("r_sparse"),
            col("r_dense").cast("bigint").as("r_dense"),
            round(coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)), 6)
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH ${TextQueries.duckBm25TopkSql(20)},
              sp AS (SELECT doc_id, row_number() OVER (
                       ORDER BY bm25 DESC, doc_id) AS r_sparse FROM bm),
              e AS ($duckVecs),
              qv AS (SELECT v AS qv, nn AS qn FROM e WHERE vec_id = 0),
              dc AS (SELECT vec_id,
                       round(list_aggregate(list_transform(range(1, len(qv) + 1),
                         i -> qv[i] * v[i]), 'sum') / (sqrt(qn) * sqrt(nn)), 6) AS cos
                     FROM e CROSS JOIN qv WHERE vec_id <> 0
                     ORDER BY cos DESC, vec_id LIMIT 20),
              dn AS (SELECT vec_id AS doc_id, row_number() OVER (
                       ORDER BY cos DESC, vec_id) AS r_dense FROM dc)
              SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
                cast(r_sparse AS bigint) AS r_sparse,
                cast(r_dense AS bigint) AS r_dense,
                round(coalesce(cast(1.0 AS double) / (60 + r_sparse), 0) +
                      coalesce(cast(1.0 AS double) / (60 + r_dense), 0), 6) AS rrf
              FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id
              ORDER BY rrf DESC, doc_id LIMIT 10""")),

    // ---- SEMANTIC dedup (SemDeDup): the published cluster-then-dedup
    // recipe — k-means cells (the s8 trained codebook, shared fit via
    // the session cache) PRUNE the pairwise cosine work to within-cell
    // pairs, then the verified near-dup graph closes to a keep-first
    // representative per semantic group (the d6/d20/m14 keep-list
    // product shape, fourth modality: semantic space). The scale
    // argument IS the clustering: all-pairs is n², within-cell is
    // Σ|cell|² — at production k the pruning factor is k for balanced
    // cells, and the cell join is a plain equi-join AQE can skew-split.
    // The oracle composes the full trainer restatement (duckKmeans),
    // the same argmin assignment, brute within-cell cosine pairs, and
    // the independent recursive closure — a wrong cell, a missed pair,
    // or an under-merged component all fail the hash.
    Q("d25_semantic_dedup",
      (s, d) => semanticDedup(vecs(s, d), trainedCodebook(s, d)),
      Some(s"""WITH RECURSIVE $duckKmeans,
              $duckSemanticDedupTail""")),

    // ---- SemDeDup at PRODUCTION k (d32): d25 pins verdict
    // correctness at a fixed k=4 codebook, which is why it sat outside
    // the enforced sf1 table — within-cell pairs grow quadratically at
    // fixed k, and the documented policy is "production scales k with
    // the corpus; the pruning factor IS k". This gate RUNS that
    // policy: k = max(4, n/100) derives from the corpus (5 cells at
    // sf0.01, 20 at sf0.1, 200 at sf1), both sides computing the same
    // k — the Spark fit from count(), the oracle's seed CTE from a
    // scalar subquery over the same population — so the within-cell
    // pair work stays ~n·(100/2) per vector instead of n²/4, and the
    // SemDeDup family joins the enforced scaling table. Trainer,
    // assignment, threshold, and closure are d25's, verbatim.
    Q("d32_semantic_dedup_scaledk",
      (s, d) => {
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        semanticDedup(e, graft.operators.KMeansLite.fit(e, "vec_id", "v", k, 1))
      },
      Some(s"""WITH RECURSIVE ${duckKmeansOn("1 = 1", d33KSql)},
              $duckSemanticDedupTail""")),

    // ---- SemDeDup at production k through the TWO-LEVEL path (d33):
    // d32 runs the scaled-k policy and measures exactly why the brute
    // path cannot scale — the argmin is n·k distance ops in BOTH the
    // trainer's Lloyd step and the corpus assignment (17.6× isolated
    // at the 10× step). This gate is the remedy wired end to end: a
    // coarse codebook at kc = ⌈√k⌉ trains first, the fine fit's Lloyd
    // iteration assigns THROUGH it (KMeansLite.fitHierarchical), and
    // the corpus assignment routes coarse-then-in-cell — every data
    // pass is n·O(√k), so the gate joins the enforced sf1 table (the
    // row d32 is excluded with a measured rationale for). Policy
    // (k = max(4, n/100)), cosine threshold, and closure are d32's
    // verbatim. The oracle restates the FULL two-level rule — coarse
    // trainer, fine seeds, the hierarchical Lloyd iteration, and the
    // coarse-argmin → in-cell-argmin corpus assignment with the
    // empty-cell fallback — so a wrong routing, a skipped fallback, a
    // tie broken high, or a drifted mean all fail the hash.
    Q("d33_semantic_dedup_hier",
      (s, d) => {
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarse, fine) = graft.operators.KMeansLite.fitHierarchical(
          e, "vec_id", "v", k, kc, 1)
        semanticDedupAssigned(e, e.withColumn("cid",
          graft.operators.KMeansLite
            .assignHierarchicalUdf(coarse, fine)(col("v")).cast("bigint")))
      },
      Some(duckD33Oracle)),

    // ---- SemDeDup at production k with the fine codebook as a
    // DATAFRAME (d34): d33 fixed the n·k COMPUTE but still holds both
    // codebooks and the fine→coarse route map as DRIVER state
    // (assignHierarchicalUdf broadcasts k·dims doubles and builds the
    // route map at k·kc driver ops; the trainer collects k·dims means
    // per Lloyd iteration) — fine at the gated policy's 100× but a
    // real ceiling at k ≈ 10⁷. This gate runs the SAME policy with
    // that state distributed end to end (KMeansLite
    // .fitHierarchicalDist / assignHierDistDf): fine seeds, Lloyd
    // means, and the final assignment all stay DataFrames; the coarse
    // route is an equi-join keyed by the broadcast O(√k) coarse
    // argmin — the ONLY remaining driver state, pushing the ceiling
    // to k ≈ 10¹⁰. Pairs/threshold/closure are d33's verbatim, and
    // the ORACLE IS d33's VERBATIM — the two paths must produce
    // bit-identical codebooks, assignments, and keep-lists, which
    // this shared oracle (and DistAssignSpec's row-level equality)
    // enforces.
    Q("d34_semantic_dedup_dist",
      (s, d) => {
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarse, fineDf) = graft.operators.KMeansLite.fitHierarchicalDist(
          e, "vec_id", "v", k, kc, 1)
        // PERSIST the assignment: semanticDedupAssigned consumes it on
        // both sides of the pair join and the edge union re-reads the
        // pair frame — without the cache the multi-stage join+window
        // assignment chain would execute 4× (measured 56 s → the UDF
        // path's band at sf0.1; the UDF assignment is a cheap per-row
        // recompute, the dist one is not)
        val asg = graft.operators.KMeansLite.assignHierDistDf(
          e, "vec_id", "v", coarse, fineDf)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val res = semanticDedupAssigned(e,
          e.join(asg, Seq("vec_id"))
            .withColumn("cid", col("cid").cast("bigint")))
        // semanticDedupAssigned's closure materialized its edge cache
        // eagerly (convergeKeepList counts it at construction), so
        // nothing downstream re-reads the codebook or assignment —
        // release both NOW
        asg.unpersist()
        fineDf.unpersist()
        res
      },
      Some(duckD33Oracle)),

    // ---- IVF at corpus-scaled nlist through TWO-LEVEL COSINE routing
    // (s20): the IVF tier's standing scale note (PERF.md round 11) is
    // that its flat argmax assignment shares d32's n·nlist shape the
    // moment nlist scales with the corpus — and that the d33 remedy is
    // "the same UDF over dot products" in the IVF tier's metric. This
    // gate lands that cosine face as a production shape: nlist =
    // max(4, n/100) (d32/d33's policy), codebooks from the SAME
    // two-level trainer (KMeansLite.fitHierarchical — every training
    // pass n·O(√nlist)), corpus cells assigned coarse→in-cell by
    // ARGMAX COSINE (VectorOps.ivfAssignHierUdf), and the probe routed
    // the same way (ivfProbeHierUdf: pc=2 coarse cells, then nprobe=2
    // among their fine members — O(√nlist + 2·√nlist) per query
    // instead of O(nlist), the IMI-style routing a query STREAM needs
    // at scale). Serve is s9's: broadcast cell equi-join, exact
    // in-cell cosine top-5. The oracle restates every level — the
    // hierarchical L2 fit (d33's CTE chain verbatim), the cosine
    // fine→coarse map, the coarse-argmax → in-cell-argmax corpus
    // assignment with the empty-cell fallback, the two-level probe
    // with the same fallback, and the final top-5 — so a wrong
    // routing at either level, a skipped fallback, or a tie broken
    // high all fail the hash.
    Q("s20_ivf_hier_scalednlist",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarseCb, fineCb) = graft.operators.KMeansLite.fitHierarchical(
          e, "vec_id", "v", k, kc, 1)
        val coarse = withNorms(coarseCb)
        val fine = withNorms(fineCb)
        val assigned = e.withColumn("cell",
          VectorOps.ivfAssignHierUdf(coarse, fine)(col("v"), col("nn")))
        val q = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nn").as("qn"),
            explode(VectorOps.ivfProbeHierUdf(coarse, fine, 2, 2)(
              col("v"), col("nn"))).as("cell"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        assigned.join(broadcast(q), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
      },
      Some(duckIvfHierTopkOn("TRUE"))),

    // ---- STREAMED maintenance of the scaled-nlist two-level index
    // (s21): s20 gates the two-level build/probe as one batch; this is
    // its streamed face under the repo's lifecycle-symmetry rule
    // (every persisted index face gets batch AND stream maintenance —
    // s16 did this for single-level IVF at fixed nlist). Codebooks train ONCE
    // on the pre-stream backfill at nlist = max(4, n_train/100) and
    // FREEZE (the s15/s16 discipline: appends never retrain); the
    // backfill lands as gen=-1, the held-out quarter arrives as a
    // real stream in two landings, each micro-batch assigned
    // coarse→in-cell by the SAME two-level cosine UDF and published
    // EXACTLY-ONCE via committedCellAppendAuto (atomic gen=<batchId>
    // rename; replays are pure skips) into the bucketed cell store, B
    // fixed by the backfill's nlist. Serve is the bucket-pruned read
    // with the TWO-LEVEL probe routing
    // the queries. The oracle is s20's full restatement with te = the
    // backfill population — blind to streaming, batching, and layout,
    // so append loss, duplication, a wrong frozen codebook, or a
    // routing drift at either level all fail the hash.
    Q("s21_stream_ivf_hier",
      (s, d) => {
        val (idxDir, coarse, fine, e) = buildHierStreamedStore(s, d, "s21")
        serveTopkFromIndex(s, idxDir, fine, e,
          probe = Some(VectorOps.ivfProbeHierUdf(coarse, fine, 2, 2)))
      },
      Some(duckIvfHierTopkOn("vec_id % 4 <> 3"))),

    // ---- AS-OF serve on the streamed two-level index (s22): closes
    // the lifecycle-symmetry square for the scaled-nlist tier the way
    // s18 closed it for single-level IVF — a training snapshot must be able to
    // pin WHICH index answered its queries. The store is s21's
    // (backfill gen=-1, two streamed landings at gen=0/1 under frozen
    // two-level codebooks); serve as-of batch 0 is the SAME partition-
    // pruned two-level-probed read with gen <= 0 as a second static
    // prune on the same scan — a subset union of generation dirs,
    // never a reconstruction — so batch 1's vectors (vec_id % 8 = 7)
    // must be invisible and every query's top-5 back-fills from the
    // snapshot population. Oracle = the two-level restatement with the
    // SERVED population restricted to the snapshot (codebooks and
    // queries unchanged — frozen artifacts don't time-travel).
    Q("s22_ivf_hier_asof",
      (s, d) => {
        val (idxDir, coarse, fine, e) = buildHierStreamedStore(s, d, "s22")
        val probe = Some(VectorOps.ivfProbeHierUdf(coarse, fine, 2, 2))
        // materialize the snapshot BEFORE compaction (the serve is
        // lazy and compaction rewrites the dirs it reads), then pin
        // s18's full as-of contract on THIS store: the pre-horizon
        // snapshot must refuse loudly once the streamed gens fold,
        // and the at-head snapshot must equal the generation-blind
        // serve — the square is only closed with both faces held.
        val matDir = Scratch.dir("graft_s22_mat_").resolve("asof0").toString
        serveTopkFromIndex(s, idxDir, fine, e, asOf = Some(0L), probe = probe)
          .write.parquet(matDir)
        VectorOps.compactBucketedCells(s, idxDir)
        val loud =
          try {
            serveTopkFromIndex(s, idxDir, fine, e, asOf = Some(0L), probe = probe)
            false
          } catch { case _: IllegalStateException => true }
        val atHead = serveTopkFromIndex(s, idxDir, fine, e,
          asOf = Some(1L), probe = probe).collect().toSet
        val current = serveTopkFromIndex(s, idxDir, fine, e, probe = probe)
          .collect().toSet
        s.read.parquet(matDir)
          .withColumn("asof_contract", lit(loud && atHead == current))
      },
      Some(s"""SELECT q.*, TRUE AS asof_contract FROM (
              ${duckIvfHierTopkOn("vec_id % 4 <> 3", "vec_id % 8 <> 7")}) q""")),

    // ---- Takedown on the two-level store (s23): the CRUD face the
    // scaled-nlist tier was missing — s17 proved delete for single-level
    // IVF; the same rewrite (VectorOps.deleteFromBucketedCells —
    // fold + filter in one rename-aside swap, bucket layout AND cell
    // sort preserved so serves still prune and row-group-skip) drops
    // the deleted vectors here while the
    // TWO-LEVEL codebooks stay frozen (a takedown no more retrains
    // than an append — the codebooks predate it). Serve is the
    // two-level-probed pruned read; every query's top-5 must
    // back-fill from remaining in-cell neighbors. Oracle = the shared
    // two-level restatement with the SERVED population restricted to
    // survivors — codebooks trained on the full pre-delete corpus,
    // exactly what the frozen artifacts are.
    Q("s23_ivf_hier_delete",
      (s, d) => {
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarseCb, fineCb) = graft.operators.KMeansLite.fitHierarchical(
          e, "vec_id", "v", k, kc, 1)
        val coarse = withNorms(coarseCb)
        val fine = withNorms(fineCb)
        val idxDir = Scratch.dir("graft_s23_").resolve("ivf").toString
        // B from the corpus-scaled nlist at first write
        VectorOps.committedCellAppendAuto(
          e.withColumn("cell",
            VectorOps.ivfAssignHierUdf(coarse, fine)(col("v"), col("nn"))),
          idxDir, -1L, nlist = k)
        VectorOps.deleteFromBucketedCells(s, idxDir,
          df => df.where(col("vec_id") % 9 =!= 0))
        serveTopkFromIndex(s, idxDir, fine, e,
          probe = Some(VectorOps.ivfProbeHierUdf(coarse, fine, 2, 2)))
      },
      Some(duckIvfHierTopkOn("TRUE", "vec_id % 9 <> 0"))),

    // ---- Scaled-nlist IVF with the fine codebook as a DATAFRAME
    // (s24): the cosine face of d34 — s20 routes assignment and probe
    // two-level but still holds the fine codebook (nlist·dims doubles)
    // and the fine→coarse route map as driver/broadcast state, the
    // tier's one remaining structural ceiling (k ≈ 10⁷). Here that
    // state is distributed end to end: the codebooks train through
    // KMeansLite.fitHierarchicalDist (fine seeds, Lloyd means, and
    // keep-seed all DataFrames), corpus cells assign through
    // VectorOps.ivfAssignHierDist (coarse route = zero-shuffle argmax
    // over the broadcast O(√nlist) coarse codebook; fine argmax = an
    // equi-join on the routed cell + one per-vector window, AQE-
    // splittable), and queries probe through ivfProbeHierDist (same
    // join shape ranked to nprobe per query). Serve is s20's
    // broadcast cell equi-join, exact in-cell cosine top-5. The
    // ORACLE IS s20's VERBATIM — wrong routing, a missed fallback, a
    // drifted mean, or a tie broken high in ANY of the distributed
    // reformulations fails the shared hash.
    Q("s24_ivf_hier_dist",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarseCb, fineL2) = graft.operators.KMeansLite
          .fitHierarchicalDist(e, "vec_id", "v", k, kc, 1)
        val coarse = withNorms(coarseCb)
        val fineDf = VectorOps.withNormsDf(fineL2)
        val assigned = e.join(
          VectorOps.ivfAssignHierDist(e, "vec_id", coarse, fineDf),
          Seq("vec_id"))
        val qBase = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nn").as("qn"))
        val q = qBase.join(
          VectorOps.ivfProbeHierDist(qBase, "qid", coarse, fineDf, 2, 2),
          Seq("qid"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        val topk = assigned.join(broadcast(q), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(cosExpr, 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("bigint").as("rank"),
            col("vec_id"), col("cos"))
        // materialize the (queries×k)-row result, then release the
        // fit's internal codebook cache (serveTopkFromIndex's pattern)
        val rows = topk.collect()
        val res = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), topk.schema)
        fineL2.unpersist()
        res
      },
      Some(duckIvfHierTopkOn("TRUE"))),

    // ---- STREAMED maintenance with the centroids-as-DataFrame tier
    // (s25): the dist tier gets its lifecycle face the way the UDF
    // tier got s21 — frozen codebooks trained on the pre-stream
    // backfill through fitHierarchicalDist (fine codebook never
    // driver-resident), the backfill landing as gen=-1, the held-out
    // quarter arriving as a real stream where EACH MICRO-BATCH runs
    // the distributed assignment (coarse-route equi-join + keyed
    // window — a join per batch, priced by the batch, never the
    // corpus) and publishes exactly-once via committedCellAppendAuto.
    // Serve is the s13 partition-pruned read routed by the DIST probe
    // (ivfProbeHierDist's (qid, cell) frame — bounded queries×nprobe
    // rows, collected like the UDF path's probed-cell list). ORACLE
    // IS s21's VERBATIM — the stream, the per-batch joins, and the
    // dist routing must all be invisible to the hash.
    Q("s25_stream_ivf_hier_dist",
      (s, d) => {
        val e = vecs(s, d)
        val trainPop = e.where(col("vec_id") % 4 =!= 3)
        val k = math.max(4L, trainPop.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarseCb, fineL2) = graft.operators.KMeansLite
          .fitHierarchicalDist(trainPop, "vec_id", "v", k, kc, 1)
        val coarse = withNorms(coarseCb)
        val fineDf = VectorOps.withNormsDf(fineL2)
        def assigned(df: DataFrame) = df.join(
          VectorOps.ivfAssignHierDist(df, "vec_id", coarse, fineDf),
          Seq("vec_id"))
        val idxDir = Scratch.dir("graft_s25_").resolve("ivf").toString
        // the backfill fixes B from the frozen nlist; every streamed
        // landing then follows the marker
        VectorOps.committedCellAppendAuto(assigned(trainPop), idxDir, -1L,
          nlist = k)
        streamHeldOut(s, d, "s25") { (batch, bid) =>
          VectorOps.committedCellAppendAuto(
            assigned(VectorOps.vecs(batch)
              .select("vec_id", "label", "v", "nn")), idxDir, bid, nlist = k)
          ()
        }
        val qBase = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nn").as("qn"))
        // materialize the probe routing (bounded: queries × nprobe
        // rows) so the frozen codebook cache can release before the
        // lazy serve — the UDF path's collected-probe discipline
        val pdf = VectorOps.ivfProbeHierDist(qBase, "qid", coarse, fineDf, 2, 2)
        val pdfRows = pdf.collect()
        val pdfLocal = s.createDataFrame(
          java.util.Arrays.asList(pdfRows: _*), pdf.schema)
        fineL2.unpersist()
        serveTopkFromIndex(s, idxDir, Seq.empty, e, probeDf = Some(pdfLocal))
      },
      Some(duckIvfHierTopkOn("vec_id % 4 <> 3"))),

    // ---- BUCKETED-CELL store with an explicit B (s26): a directory
    // per cell would wall at ~10⁵ cells (filesystem / object-store
    // metadata), far below the k ≈ 10¹⁰ the dist tier computes and
    // below a 100 TB corpus at the gated k = n/100 policy. The
    // partition key is cell_bucket = cell % B (B
    // recorded once in the store's __layout marker — the banded
    // index's contract) and `cell` rides as a cell-sorted DATA column:
    // directories per generation are bounded by B no matter how many
    // cells exist, the serve's bucket prune is a pure partition prune,
    // and the pushed In(cell, ...) filter row-group-skips inside each
    // pruned bucket file (BucketedIvfSpec pins both from the executed
    // plan). Codebooks are the corpus-scaled TWO-LEVEL tier (k =
    // n/100 — thousands of cells at sf1, where bucketing is real, not
    // one cell per bucket); the ORACLE IS s20/s24's VERBATIM — the
    // layout must be invisible in results.
    Q("s26_ivf_bucketed_served",
      (s, d) => {
        val e = vecs(s, d)
        val k = math.max(4L, e.count() / 100).toInt
        val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val (coarseCb, fineCb) = graft.operators.KMeansLite.fitHierarchical(
          e, "vec_id", "v", k, kc, 1)
        val coarse = withNorms(coarseCb)
        val fine = withNorms(fineCb)
        val idxDir = Scratch.dir("graft_s26_").resolve("ivf").toString
        VectorOps.committedBucketedCellAppend(
          e.withColumn("cell",
            VectorOps.ivfAssignHierUdf(coarse, fine)(col("v"), col("nn"))),
          idxDir, -1L, buckets = 16)
        serveTopkFromIndex(s, idxDir, fine, e,
          probe = Some(VectorOps.ivfProbeHierUdf(coarse, fine, 2, 2)))
      },
      Some(duckIvfHierTopkOn("TRUE"))),

    // ---- s14's frozen-codebook APPEND with an explicit B = 16 (s27):
    // the landing batch publishes as its own generation of ≤ B
    // cell-sorted files (one bucketed shuffle of the BATCH, never the
    // corpus). ORACLE IS s13/s14's VERBATIM.
    Q("s27_ivf_bucketed_append",
      (s, d) => appendServe(s, d, "s27", bucketed16),
      Some(duckIvfTrainedTopk)),

    // ---- s17's takedown with an explicit B = 16 (s28): fold + filter
    // in one swap, rows re-clustered (cell_bucket, cell) so the serve's
    // row-group skip survives the fold. ORACLE IS s17's VERBATIM.
    Q("s28_ivf_bucketed_delete",
      (s, d) => deleteServe(s, d, "s28", bucketed16),
      Some(duckIvfTrainedTopkOn("vec_id % 9 <> 0"))),

    // ---- s18's as-of + compaction horizon with an explicit B = 16
    // (s29). ORACLE IS s18's VERBATIM.
    Q("s29_ivf_bucketed_asof",
      (s, d) => asofServe(s, d, "s29", bucketed16),
      Some(s"""SELECT q.*, TRUE AS asof_contract FROM (
              ${duckIvfTrainedTopkOn("vec_id % 4 <> 3 OR vec_id % 8 = 3")}) q""")),

    // ---- s16's streamed maintenance with an explicit B = 16 (s30):
    // each micro-batch publishes via committedBucketedCellAppend,
    // exactly-once by batchId. ORACLE IS s13/s14/s16's VERBATIM —
    // stream, batching, and writer entry all invisible to the hash.
    Q("s30_stream_ivf_bucketed",
      (s, d) => streamServe(s, d, "s30", bucketed16),
      Some(duckIvfTrainedTopk)),
  )

  /** How a frozen-codebook gate writes its cell store: (assigned rows,
    * store dir, batchId) → published. s13-s18 go through the writer
    * search_serve uses (B from the trained codebook's nlist), their
    * s27-s30 twins through an explicit B = 16.
    */
  private type CellWriter = (DataFrame, String, Long) => Boolean

  private val autoWriter: CellWriter =
    VectorOps.committedCellAppendAuto(_, _, _, trainedNlist)

  private val bucketed16: CellWriter =
    VectorOps.committedBucketedCellAppend(_, _, _, 16)

  /** The corpus, the trained codebook with norms, and its frozen cell
    * assignment — the inputs of every s13-s18/s27-s30 store.
    */
  private def frozenAssign(s: SparkSession, d: String)
      : (DataFrame, Seq[(Long, Array[Double], Double)], DataFrame => DataFrame) = {
    val cents = withNorms(trainedCodebook(s, d))
    val assign = VectorOps.ivfAssignUdf(cents)
    (vecs(s, d), cents, _.withColumn("cell", assign(col("v"), col("nn"))))
  }

  /** s14/s27: the original 3/4 as gen=-1, the held-out quarter
    * appended as gen=0, served over both.
    */
  private def appendServe(s: SparkSession, d: String, tag: String,
                          write: CellWriter): DataFrame = {
    val (e, cents, assigned) = frozenAssign(s, d)
    val idxDir = Scratch.dir(s"graft_${tag}_").resolve("ivf").toString
    write(assigned(e.where(col("vec_id") % 4 =!= 3)), idxDir, -1L)
    write(assigned(e.where(col("vec_id") % 4 === 3)), idxDir, 0L)
    serveTopkFromIndex(s, idxDir, cents, e)
  }

  /** s16/s30: the original 3/4 as gen=-1, the held-out quarter as two
    * streamed landings ([[streamHeldOut]]), served over all three.
    */
  private def streamServe(s: SparkSession, d: String, tag: String,
                          write: CellWriter): DataFrame = {
    val (e, cents, assigned) = frozenAssign(s, d)
    val idxDir = Scratch.dir(s"graft_${tag}_").resolve("ivf").toString
    write(assigned(e.where(col("vec_id") % 4 =!= 3)), idxDir, -1L)
    streamHeldOut(s, d, tag) { (batch, bid) =>
      write(assigned(VectorOps.vecs(batch)
        .select("vec_id", "label", "v", "nn")), idxDir, bid)
      ()
    }
    serveTopkFromIndex(s, idxDir, cents, e)
  }

  /** s17/s28: the whole corpus as gen=-1, then every vec_id % 9 = 0
    * deleted by one fold + filter swap.
    */
  private def deleteServe(s: SparkSession, d: String, tag: String,
                          write: CellWriter): DataFrame = {
    val (e, cents, assigned) = frozenAssign(s, d)
    val idxDir = Scratch.dir(s"graft_${tag}_").resolve("ivf").toString
    write(assigned(e), idxDir, -1L)
    VectorOps.deleteFromBucketedCells(s, idxDir,
      df => df.where(col("vec_id") % 9 =!= 0))
    serveTopkFromIndex(s, idxDir, cents, e)
  }

  /** s18/s29: three landings, the batch-0 snapshot materialized, then
    * the fold; `asof_contract` holds when the pre-horizon snapshot
    * refuses and the at-head snapshot equals the current serve.
    */
  private def asofServe(s: SparkSession, d: String, tag: String,
                        write: CellWriter): DataFrame = {
    val (e, cents, assigned) = frozenAssign(s, d)
    val base = Scratch.dir(s"graft_${tag}_")
    val idxDir = base.resolve("ivf").toString
    write(assigned(e.where(col("vec_id") % 4 =!= 3)), idxDir, -1L)
    write(assigned(e.where(col("vec_id") % 8 === 3)), idxDir, 0L)
    write(assigned(e.where(col("vec_id") % 8 === 7)), idxDir, 1L)
    // materialize the snapshot BEFORE compaction — the serve is lazy
    // and compaction rewrites the very dirs it reads
    val matDir = base.resolve("asof0").toString
    serveTopkFromIndex(s, idxDir, cents, e, asOf = Some(0L)).write.parquet(matDir)
    VectorOps.compactBucketedCells(s, idxDir)
    val loud =
      try {
        serveTopkFromIndex(s, idxDir, cents, e, asOf = Some(0L))
        false
      } catch { case _: IllegalStateException => true }
    val atHead = serveTopkFromIndex(s, idxDir, cents, e,
      asOf = Some(1L)).collect().toSet
    val current = serveTopkFromIndex(s, idxDir, cents, e).collect().toSet
    s.read.parquet(matDir)
      .withColumn("asof_contract", lit(loud && atHead == current))
  }

  /** ONE copy of s21/s22's streamed two-level store construction (the
    * serveTopkFromIndex discipline: gates differ only in how they READ
    * the store): codebooks fit hierarchically on the pre-stream
    * backfill (vec_id % 4 ≠ 3) at nlist = max(4, n_train/100) and
    * FREEZE; the backfill lands as gen=-1; the held-out quarter
    * arrives as a real stream in two landings (vec_id % 8 = 3, then
    * % 8 = 7), each micro-batch assigned coarse→in-cell by the frozen
    * two-level UDF and published exactly-once via
    * committedCellAppendAuto into the bucketed store the backfill laid out.
    * Returns (idxDir, coarse, fine, corpus).
    */
  private def buildHierStreamedStore(s: SparkSession, d: String, tag: String)
      : (String, Seq[(Long, Array[Double], Double)],
         Seq[(Long, Array[Double], Double)], DataFrame) = {
    val e = vecs(s, d)
    val trainPop = e.where(col("vec_id") % 4 =!= 3)
    val k = math.max(4L, trainPop.count() / 100).toInt
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val (coarseCb, fineCb) = graft.operators.KMeansLite.fitHierarchical(
      trainPop, "vec_id", "v", k, kc, 1)
    val coarse = withNorms(coarseCb)
    val fine = withNorms(fineCb)
    val assignUdf = VectorOps.ivfAssignHierUdf(coarse, fine)
    def assigned(df: DataFrame) =
      df.withColumn("cell", assignUdf(col("v"), col("nn")))
    val idxDir = Scratch.dir(s"graft_${tag}_").resolve("ivf").toString
    // the backfill fixes B from the corpus-scaled nlist, streamed
    // landings follow the marker
    VectorOps.committedCellAppendAuto(assigned(trainPop), idxDir, -1L,
      nlist = k)
    streamHeldOut(s, d, tag) { (batch, bid) =>
      VectorOps.committedCellAppendAuto(
        assigned(VectorOps.vecs(batch)
          .select("vec_id", "label", "v", "nn")), idxDir, bid, nlist = k)
      ()
    }
    (idxDir, coarse, fine, e)
  }

  /** ONE copy of the held-out-quarter streaming scaffold
    * (s16/s21/s22/s25/s30):
    * vec_id % 8 = 3 lands first, a real parquet-source stream drives
    * `ingest` through foreachBatch, then % 8 = 7 lands as the second
    * micro-batch. `ingest` receives the RAW batch rows and the real
    * batchId — the committed-append discipline lives in the caller.
    */
  private def streamHeldOut(s: SparkSession, d: String, tag: String)
                           (ingest: (DataFrame, Long) => Unit): Unit = {
    val raw = Tables.embeddings(s, d)
    val stage = Scratch.dir(s"graft_${tag}_stage_").toString
    raw.where(col("vec_id") % 8 === 3)
      .coalesce(1).write.mode("append").parquet(stage)
    val ckpt = Scratch.dir(s"graft_${tag}_ck_").toString
    val q = s.readStream.schema(raw.schema).parquet(stage)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          graft.GraftExtensions.registerNative(s)
          ingest(batch, bid)
        }
      }
      .start()
    try {
      q.processAllAvailable()
      raw.where(col("vec_id") % 8 === 7)
        .coalesce(1).write.mode("append").parquet(stage)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Full two-level-IVF top-k restatement at corpus-scaled nlist
    * (s20/s21's shared oracle, parameterized like duckIvfTrainedTopkOn):
    * hierarchical L2 fit over the TRAINING population `te` (d33's CTE
    * chain verbatim — the codebooks are frozen artifacts of te), then
    * the cosine two-level corpus assignment, the two-level probe, and
    * the in-cell top-5 over the SERVED population (`corpusWhere` —
    * duckIvfTrainedTopkOn's knob: s22's as-of serve restricts the
    * population to the generations at or before the snapshot while
    * codebooks and queries stay fixed). s20 trains on everything
    * (te = e); s21/s22 train on the pre-stream backfill while the
    * streamed generations land under the frozen codebooks.
    */
  private def duckIvfHierTopkOn(trainWhere: String,
                                corpusWhere: String = "TRUE") =
    s"""WITH e AS ($duckVecs),
              te AS (SELECT * FROM e WHERE $trainWhere),
              ${duckKmeansBody("h", d33KcSql)},
              ${duckSeeds("f", d33KSql)},
              ${duckHierAssign("i1", "te", "hc1", "fc0")},
              i1ev AS (SELECT t.vec_id, t.v, a.cid
                       FROM te t JOIN i1asg a ON t.vec_id = a.vec_id),
              ${duckKeepSeedMeans("fc1", "i1ev", "fc0")},
              hcn AS (SELECT cid, cv,
                        list_aggregate(list_transform(cv, x -> x * x), 'sum') AS cn
                      FROM hc1),
              fcn AS (SELECT cid, cv,
                        list_aggregate(list_transform(cv, x -> x * x), 'sum') AS cn
                      FROM fc1),
              ffd AS (SELECT f.cid AS fcid, h.cid AS ccid,
                        list_aggregate(list_transform(range(1, len(f.cv) + 1),
                          i -> h.cv[i] * f.cv[i]), 'sum')
                          / (sqrt(h.cn) * sqrt(f.cn)) AS cs
                      FROM fcn f CROSS JOIN hcn h),
              fmap AS (SELECT fcid, ccid FROM (
                        SELECT *, row_number() OVER (
                          PARTITION BY fcid ORDER BY cs DESC, ccid) AS r FROM ffd)
                      WHERE r = 1),
              vcd AS (SELECT e.vec_id, h.cid AS ccid,
                        list_aggregate(list_transform(range(1, len(e.v) + 1),
                          i -> h.cv[i] * e.v[i]), 'sum')
                          / (sqrt(h.cn) * sqrt(e.nn)) AS cs
                      FROM e CROSS JOIN hcn h),
              vcc AS (SELECT vec_id, ccid FROM (
                        SELECT *, row_number() OVER (
                          PARTITION BY vec_id ORDER BY cs DESC, ccid) AS r FROM vcd)
                      WHERE r = 1),
              cand AS (SELECT vcc.vec_id, f.cid, f.cv, f.cn
                       FROM vcc JOIN fmap m ON m.ccid = vcc.ccid
                       JOIN fcn f ON f.cid = m.fcid),
              cand2 AS (SELECT * FROM cand
                        UNION ALL
                        SELECT vcc.vec_id, f.cid, f.cv, f.cn
                        FROM vcc CROSS JOIN fcn f
                        WHERE vcc.vec_id NOT IN (SELECT vec_id FROM cand)),
              cad AS (SELECT c.vec_id, c.cid,
                        list_aggregate(list_transform(range(1, len(t.v) + 1),
                          i -> c.cv[i] * t.v[i]), 'sum')
                          / (sqrt(c.cn) * sqrt(t.nn)) AS cs
                      FROM cand2 c JOIN e t ON t.vec_id = c.vec_id),
              asg AS (SELECT vec_id, cid AS cell FROM (
                        SELECT *, row_number() OVER (
                          PARTITION BY vec_id ORDER BY cs DESC, cid) AS r FROM cad)
                      WHERE r = 1 AND ($corpusWhere)),
              qvc AS (SELECT vec_id AS qid, ccid FROM (
                        SELECT *, row_number() OVER (
                          PARTITION BY vec_id ORDER BY cs DESC, ccid) AS r
                        FROM vcd WHERE vec_id < 3)
                      WHERE r <= 2),
              qcand AS (SELECT qvc.qid, f.cid, f.cv, f.cn
                        FROM qvc JOIN fmap m ON m.ccid = qvc.ccid
                        JOIN fcn f ON f.cid = m.fcid),
              qcand2 AS (SELECT * FROM qcand
                         UNION ALL
                         SELECT q.qid, f.cid, f.cv, f.cn
                         FROM (SELECT DISTINCT qid FROM qvc) q CROSS JOIN fcn f
                         WHERE q.qid NOT IN (SELECT qid FROM qcand)),
              qpd AS (SELECT c.qid, c.cid,
                        list_aggregate(list_transform(range(1, len(t.v) + 1),
                          i -> c.cv[i] * t.v[i]), 'sum')
                          / (sqrt(c.cn) * sqrt(t.nn)) AS cs
                      FROM qcand2 c JOIN e t ON t.vec_id = c.qid),
              qprobe AS (SELECT qid, cid AS cell FROM (
                          SELECT *, row_number() OVER (
                            PARTITION BY qid ORDER BY cs DESC, cid) AS r FROM qpd)
                        WHERE r <= 2),
              p AS (SELECT qp.qid, a.vec_id,
                      round(list_aggregate(list_transform(range(1, len(q.v) + 1),
                        i -> q.v[i] * t.v[i]), 'sum')
                        / (sqrt(q.nn) * sqrt(t.nn)), 6) AS cos
                    FROM asg a JOIN qprobe qp ON a.cell = qp.cell
                    JOIN e q ON q.vec_id = qp.qid
                    JOIN e t ON t.vec_id = a.vec_id
                    WHERE a.vec_id <> qp.qid)
              SELECT qid, cast(rank as bigint) AS rank, vec_id, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rank FROM p) WHERE rank <= 5"""

  /** the full two-level SemDeDup restatement — coarse trainer, fine
    * seeds, hierarchical Lloyd iteration, two-level corpus assignment,
    * then the shared pairs/threshold/closure tail. ONE copy, shared by
    * d33 (the UDF path) and d34 (the centroids-as-DataFrame path):
    * the two gates must be bit-identical, and sharing the oracle is
    * what enforces it.
    */
  private lazy val duckD33Oracle =
    s"""WITH RECURSIVE e AS ($duckVecs),
              te AS (SELECT * FROM e),
              ${duckKmeansBody("h", d33KcSql)},
              ${duckSeeds("f", d33KSql)},
              ${duckHierAssign("i1", "te", "hc1", "fc0")},
              i1ev AS (SELECT t.vec_id, t.v, a.cid
                       FROM te t JOIN i1asg a ON t.vec_id = a.vec_id),
              ${duckKeepSeedMeans("fc1", "i1ev", "fc0")},
              ${duckHierAssign("", "e", "hc1", "fc1")},
              $duckSemanticDedupFromAsg"""

  /** d32/d33's corpus-scaled k and d33's ⌈√k⌉ coarse size — both sides
    * (the Spark gates and these scalar subqueries) derive them from
    * the same population count
    */
  private val d33KSql = "SELECT greatest(4, count(*) // 100) FROM te"
  private val d33KcSql =
    "SELECT greatest(2, cast(ceil(sqrt(greatest(4, count(*) // 100))) as int)) FROM te"

  /** Shared d25/d32 body: argmin cell assignment under the given
    * codebook, within-cell rounded-cosine pairs over the 0.3
    * threshold, keep-list closure, singletons keep themselves. The
    * cell join is a plain equi-join (AQE skew-splittable); nothing
    * all-pairs anywhere.
    */
  private def semanticDedup(e: DataFrame,
                            cents: Seq[(Int, Array[Double])]): DataFrame =
    semanticDedupAssigned(e, e.withColumn("cid",
      graft.operators.KMeansLite.assignUdf(cents)(col("v"))
        .cast("bigint")))

  /** the assignment-agnostic SemDeDup body: d25/d32 hand it the brute
    * argmin cells, d33 the two-level ones — pairs/threshold/closure
    * identical either way
    */
  private def semanticDedupAssigned(e: DataFrame,
                                    assigned: DataFrame): DataFrame = {
    // EXPANSION-SKEW safe (round-16 — the SetSimJoin r15 finding
    // applied to the within-cell pair join): the join's OUTPUT is
    // Σ|cell|² cosine-verified pairs while AQE sizes partitions from
    // INPUT bytes, so with the corpus-sized b side broadcast the whole
    // quadratic verify ran on the probe side's 1–2 scan partitions
    // (GateProfile d25: one 2-task 1.3 s stage). Keyless round-robin
    // spread of the probe side to the session shuffle-partition count —
    // scale-adaptive by conf; under a cluster-scale shuffle join the
    // planner replaces it with the join's own exchange and AQE's skew
    // split stays armed. No hot-cell salt is needed here BY POLICY:
    // k = n/100 bounds cells to ~100 members, so per-cell pair
    // products sit orders under SetSimJoin's 10⁶-pair salt budget.
    val p = e.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val a = assigned.select(col("cid"), col("vec_id").as("ia"),
      col("v").as("qv"), col("nn").as("qn")).repartition(p)
    val b = assigned.select(col("cid"), col("vec_id").as("ib"),
      col("v"), col("nn"))
    val pairs = a.join(b, "cid").where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), round(cosExpr, 6).as("cos"))
      .where(col("cos") > 0.3)
    val pairKey = concat(col("ia"), lit("_"), col("ib"))
    // ONE pass over the pair join: the old union-of-two-selects
    // re-executed the within-cell cosine join per branch (Spark does
    // not dedupe common subtrees) — explode emits the same (ia, ib)
    // row pair from a single scan (round-16; identical row multiset,
    // and the closure is groupBy/min — order-free)
    val edges = pairs.select(
      explode(array(col("ia"), col("ib"))).as("vec_id"),
      lit(0).as("band"), pairKey.as("h"))
    val closed = graft.operators.MinHashLSH.convergeKeepList(edges, "vec_id")
    e.select("vec_id").join(closed, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keep_id"), col("vec_id")).as("keep_id"))
  }

  /** the one copy of the SemDeDup oracle chain downstream of an
    * `asg(vec_id, cid)` assignment — within-cell rounded-cosine pairs,
    * threshold, symmetric closure, keep-first min
    */
  private val duckSemanticDedupFromAsg =
    """ev AS (SELECT e.vec_id, e.v, e.nn, asg.cid
                     FROM e JOIN asg ON e.vec_id = asg.vec_id),
              p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                      round(list_aggregate(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i] * b.v[i]), 'sum') /
                        (sqrt(a.nn) * sqrt(b.nn)), 6) AS cos
                    FROM ev a JOIN ev b
                      ON a.cid = b.cid AND a.vec_id < b.vec_id),
              pp AS (SELECT ia, ib FROM p WHERE cos > 0.3),
              sym AS (SELECT ia AS src, ib AS dst FROM pp
                      UNION ALL SELECT ib, ia FROM pp),
              reach(vec_id, r) AS (
                SELECT vec_id, vec_id FROM e
                UNION
                SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vec_id)
              SELECT vec_id, min(r) AS keep_id FROM reach GROUP BY vec_id"""

  /** the SemDeDup chain downstream of a trained `c1(cid, cv)` codebook
    * (brute argmin assignment + the shared tail) — d25 instantiates it
    * under the fixed-k trainer, d32 under the corpus-scaled-k trainer
    */
  private val duckSemanticDedupTail =
    s"""dd2 AS (SELECT e.vec_id, c.cid,
                        list_aggregate(list_transform(range(1, len(e.v) + 1),
                          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), 'sum') AS dd
                      FROM e CROSS JOIN c1 c),
              asg AS (SELECT vec_id, cid FROM (
                        SELECT vec_id, cid, row_number() OVER (
                          PARTITION BY vec_id ORDER BY dd, cid) AS r FROM dd2)
                      WHERE r = 1),
              $duckSemanticDedupFromAsg"""
}
