package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.VecDB
import graft.functions.VectorFunctions
import graft.index.{HnswGraph, Simd}
import graft.operators._
import graft.sources.Ingest

/** Layer probes of a traced run. Each calls one public function of a layer
  * on a fixture made from the workload's own data (the first rows of its
  * corpus and its held-out queries) or, for the pipeline operators, on a
  * seeded document corpus. Every traced run of every workload measures the
  * same probes, so each per-layer metric exists on each workload. */
object Probes {
  val Ef = 24

  def run(ctx: Ctx, out: Outcome): Map[String, Double] = {
    import ctx._
    val base = out.sample.corpus
    val qs = out.sample.queries.take(40)
    val n = base.length
    val d = base.head.length
    val m = scala.collection.mutable.Map.empty[String, Double]

    /** Median wall (ms) of three spans of `name` after one warm-up call. */
    def rep(name: String, layer: String)(f: => Any): Double = {
      f
      Trace.median((0 until 3).map(_ => timed(span(name, layer)(f))._2 * 1e3))
    }

    // sources: the fvecs reader
    val fv = dir.resolve("probe.fvecs")
    writeFvecs(fv, base.toIndexedSeq)
    m("sources.fvecs_rows_per_s") = n / (rep("sources.read_fvecs", "sources")(
      Ingest.readFvecs(spark, fv.toString).count()) / 1e3)
    val baseDf = Ingest.readFvecs(spark, fv.toString).cache()
    baseDf.count()
    val qdf = queriesDf(qs)

    // functions: the vec_l2sq aggregate
    val q0 = typedLit(qs(0))
    m("functions.distance_mrows_per_s") = n / 1e6 / (rep("functions.vec_l2sq", "functions")(
      baseDf.agg(sum(VectorFunctions.vecL2Sq(col("vec"), q0))).head()) / 1e3)

    // operators: one batch replayed through each operator's public function
    val idx = Hnsw.buildIndex(baseDf).cache()
    idx.count()
    val tag = s"probe-${dir.getFileName}"
    m("operators.hnsw_ms") = rep("operators.hnsw", "operators")(
      Hnsw.searchBroadcast(idx, qdf, k, Some(Ef), cacheKey = Some(s"$tag-hnsw")).collect())
    val pq = Pq.train(baseDf, math.max(1, d / 8), nBits = 8)
    m("operators.knn_pq_ms") = rep("operators.knn_pq", "operators")(
      Hnsw.searchBroadcastPq(idx, qdf, pq, k, Some(Ef), cacheKey = Some(s"$tag-pq")).collect())
    val (ivf, assigned) = Ivf.build(baseDf, 16, "l2sqr")
    val assignedC = assigned.cache()
    m("operators.ivf_ms") = rep("operators.ivf", "operators")(
      Ivf.search(assignedC, ivf, qdf, k, Some(2)).collect())
    val sqm = Sq.train(baseDf)
    val sqPacked = Sq.encode(baseDf, sqm).select("id", "sq").cache()
    m("operators.sq_ms") = rep("operators.sq", "operators")(
      Sq.searchRerankPacked(sqPacked, baseDf, qdf, sqm, k, 40).collect())
    val bqm = Bq.train(baseDf)
    val bqPacked = Bq.encodeCentered(baseDf, bqm).select("id", "bq").cache()
    m("operators.bq_ms") = rep("operators.bq", "operators")(
      Bq.searchRerankPacked(bqPacked, baseDf, qdf, k, 80, model = Some(bqm)).collect())
    m("operators.flat_ms") = rep("operators.flat", "operators")(
      Knn.exact(baseDf, qdf, k).collect())

    // index: one in-process graph walk and the distance kernel, no Spark
    val g = new HnswGraph(d, "l2sqr")
    base.take(2000).foreach(g.add)
    val walkMs = rep("index.hnsw_walk", "index")(qs.foreach(q => g.search(q, k, Ef)))
    m("index.hnsw_walk_us") = walkMs * 1e3 / qs.length
    var sink = 0.0
    val evals = 200000
    val l2Ms = rep("index.l2sq", "index") {
      var i = 0
      while (i < evals) { sink += Simd.l2sq(base(i % n), qs(i % qs.length)); i += 1 }
    }
    m("index.l2_ns_per_kdim") = l2Ms * 1e6 / (evals.toDouble * d / 1000) + sink * 0.0

    // catalog: every index build, a streamed append read back through the
    // delta subgraph, a SQL top-k, a delete, and a close and reopen, on a
    // fixture table of the same rows
    val root = dir.resolve("probe-db")
    val db = new VecDB(spark, root.toString)
    val key = "probe"
    db.createTableIfNotExists(key, d, "l2sqr")
    val tagOf: Int => String = r => "a" + (r % 4)
    val half = n / 2
    def build(kind: String)(f: => Unit): Unit =
      m(s"catalog.build_ms.$kind") = timed(span(s"catalog.build.$kind", "catalog")(f))._2 * 1e3
    span("catalog.append", "catalog")(db.addDataFrame(key, rowsDf(base, 0 until half, tagOf)))
    build("hnsw")(db.buildHnswIndex(key))
    span("catalog.append", "catalog")(
      db.applyStreamBatch(key, rowsDf(base, half until n, tagOf), 1L))
    val fresh = Hits.of(db.searchBatch(key, queriesDf(IndexedSeq(base(n - 1))), k,
      ef = Some(Ef)).collect())
    checks.op(if (fresh.exists(h => h.row == n - 1 && h.dist <= 1e-9)) Nil
      else Seq(s"just-appended row ${n - 1} not found at distance 0"))
    build("pq")(db.buildPqTable(key, m = Some(math.max(1, d / 8)), nBits = Some(8)))
    build("ivf")(db.buildIvfIndex(key, k = 16, defaultNProbes = 2))
    build("sq")(db.buildSqIndex(key))
    build("bq")(db.buildBqIndex(key))
    db.registerSql(key, Some("probe_v"))
    val sqlProblems = (0 until 3).flatMap { i =>
      val text = s"SELECT id, meta, graft_topk_ef(vec_l2sq(vec, ${litVec(qs(i))}), $Ef) AS d " +
        s"FROM probe_v ORDER BY d LIMIT $k"
      val df = span("plans.sql_plan", "plans") {
        val x = spark.sql(text)
        x.queryExecution.optimizedPlan
        x
      }
      val got = span("plans.sql_exec", "plans")(df.collect())
      if (got.length == k) None else Some(s"probe SQL top-k returned ${got.length} rows")
    }
    checks.op(sqlProblems)
    val removed = span("catalog.delete", "catalog")(db.delete(key, Map("tenant" -> "a0")))
    val live = (0 until n).filter(tagOf(_) != "a0").toSet
    checks.op(if (removed == n - live.size) Nil else Seq(s"probe delete removed $removed rows"))
    val afterDelete = Hits.of(db.searchBatch(key, queriesDf(qs.take(8)), k).collect())
    checks.op(afterDelete.filter(_.tenant == "a0").map(h => s"deleted row ${h.id} returned"))
    // every acknowledged append that was not deleted is readable after reopen
    db.close()
    val reopened = new VecDB(spark, root.toString)
    val readable = reopened.table(key).select(col("meta")("r")).collect()
      .map(_.getString(0).toInt).toSet
    checks.op(if (readable == live) Nil
      else Seq(s"after reopen ${readable.size} rows readable, expected ${live.size}"))
    reopened.deleteTable(key)
    reopened.close()

    m ++= pipeline(ctx)
    Seq(baseDf, idx, assignedC, sqPacked, bqPacked).foreach(_.unpersist())
    m.toMap
  }

  /** The LLM-data pipeline operators on a seeded corpus with planted
    * duplicates: every detector, the component merge, BM25 and the text
    * functions. */
  def pipeline(ctx: Ctx): Map[String, Double] = {
    import ctx._
    import spark.implicits._
    val n = 1000
    val docs = Gen.docs(seed, n, 64)
    val docsDf = docs.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").cache()
    val embDf = docs.emb.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("id", "vec").cache()
    docsDf.count(); embDf.count()
    val m = scala.collection.mutable.Map.empty[String, Double]
    def step[T](name: String, layer: String = "operators")(f: => T): T = {
      val (r, s) = timed(span(name, layer)(f))
      m(name + "_ms") = s * 1e3
      r
    }
    val t0 = System.nanoTime()
    def pairs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = step("operators.dedup_exact")(pairs(Dedup.exactGroups(docsDf)
      .filter(col("is_duplicate")), "canonical_id", "doc_id"))
    val minhash = step("operators.minhash")(pairs(Dedup.minhashLshJoin(docsDf), "a_id", "b_id"))
    val simhash = step("operators.simhash")(pairs(Dedup.simhashPairs(docsDf), "a_id", "b_id"))
    val semantic = step("operators.semantic")(
      pairs(Dedup.semanticPairs(embDf, threshold = 1.0), "a_id", "b_id"))
    val reported = (exact ++ minhash ++ simhash ++ semantic).distinct
    val comps = step("operators.components") {
      Dedup.duplicateComponents(docsDf, reported.toDF("a_id", "b_id")).select("doc_id", "component_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val bm = step("operators.bm25_build") {
      val i = Bm25.buildIndex(docsDf)
      i.postings.cache().count()
      i
    }
    val queries = (0 until 100).map(i => (i.toLong, docs.texts(i * 7).split(" ").take(8).mkString(" ")))
      .toDF("query_id", "text")
    val bmHits = step("operators.bm25_search")(
      Bm25.search(bm, queries, k).select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    val (_, textS) = timed(span("functions.text", "functions") {
      TextAnalysis.stats(docsDf).collect()
      TextAnalysis.qualityScore(docsDf).collect()
      TextAnalysis.langId(docsDf).collect()
    })
    m("functions.text_krows_per_s") = 3.0 * n / textS / 1e3
    val pipelineS = (System.nanoTime() - t0) / 1e9
    m("operators.docs_per_s") = n / pipelineS
    bm.postings.unpersist()

    // planted truth: docs linked by planted pairs form the true groups
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    docs.planted.foreach { case (a, b) => parent(find(a)) = find(b) }
    val found = docs.planted.count { case (a, b) => comps.get(a.toLong) == comps.get(b.toLong) }
    val dupRecall = found.toDouble / docs.planted.length
    m("operators.dup_recall") = dupRecall
    m("operators.pair_precision") =
      reported.count { case (a, b) => find(a.toInt) == find(b.toInt) }.toDouble /
        math.max(1, reported.length)
    checks.op(if (dupRecall >= floors.dupRecall) Nil
      else Seq(s"dup_recall $dupRecall is below its floor ${floors.dupRecall}"))
    // a query made of a doc's first words finds that doc or a copy of it
    val byQ = bmHits.groupBy(_._1)
    val selfFound = (0 until 100).count { i =>
      val src = find(i * 7)
      byQ.getOrElse(i.toLong, Array.empty).exists { case (_, doc) => find(doc.toInt) == src }
    }
    checks.op(if (selfFound >= 90) Nil
      else Seq(s"BM25 found the source doc for $selfFound of 100 queries"))
    docsDf.unpersist(); embDf.unpersist()
    m.toMap
  }
}
