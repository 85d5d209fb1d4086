package perfbench

import graft.catalog.VecDB

/** One corpus at GIST's dimension, loaded into one table per serving arm and
  * queried with held-out batches. Per-call overhead is amortised over the
  * batch and every index fits in cache, so the kernels do the work: the
  * opposite regime of serve_tenants. */
object BatchKnn {
  val Rows = 1500
  val Dim = 960
  val Pool = 240

  /** (arm, batch size, ef). ef is the HNSW beam, the IVF probe count or the
    * SQ/BQ candidate budget, set so each approximate arm stays below
    * recall 0.99. The flat arm filters the BQ table by tenant tag: a
    * pattern search on a table without an HNSW index scans exactly. */
  val Arms: Seq[(String, Int, Option[Int])] = Seq(
    ("hnsw", 40, Some(10)),
    ("knn_pq", 40, Some(40)),
    ("ivf", 40, Some(1)),
    ("sq", 40, Some(10)),
    ("bq", 40, Some(40)),
    ("flat", 40, None))
  val FlatTenant = "a1"
  val Tables = Arms.map(_._1).filter(_ != "flat")
  /** PQ groups for knn_pq: m·8 ≤ dim passes the ADC-walk gate. */
  val PqM = 120

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val (v, genS) = timed {
      val g = Gen.vectors(seed, 200, Rows, Pool, Dim, 24, 0.8)
      // one row in a hundred is a far outlier, as real embeddings have heavy
      // tails: it widens the per-dimension range that SQ8 quantizes over
      for (r <- 99 until Rows by 100) g.corpus(r) = g.corpus(r).map(_ * 8)
      g
    }
    val tag: Int => String = r => "a" + (r % 4)
    val (truth, truthS) = timed(Map(
      "all" -> Gen.truth(v.corpus, v.queries, k),
      "flat" -> Gen.truth(v.corpus, v.queries, k, r => tag(r) == FlatTenant)))

    val root = dir.resolve("batch-db")
    val (db, openS) = timed(new VecDB(spark, root.toString))
    val (_, loadS) = timed {
      for (arm <- Tables) {
        span("catalog.create", "catalog")(db.createTableIfNotExists(arm, Dim, "l2sqr"))
        span("catalog.append", "catalog")(db.batchAdd(arm, v.corpus.toSeq,
          Seq.tabulate(Rows)(r => Map("r" -> r.toString, "tenant" -> tag(r)))))
      }
    }
    val (_, buildS) = timed {
      span("catalog.build.hnsw", "catalog")(db.buildHnswIndex("hnsw"))
      span("catalog.build.hnsw", "catalog")(db.buildHnswIndex("knn_pq"))
      span("catalog.build.pq", "catalog")(
        db.buildPqTable("knn_pq", m = Some(PqM), nBits = Some(8)))
      span("catalog.build.ivf", "catalog")(db.buildIvfIndex("ivf", k = 64, defaultNProbes = 2))
      span("catalog.build.sq", "catalog")(db.buildSqIndex("sq"))
      span("catalog.build.bq", "catalog")(db.buildBqIndex("bq"))
    }
    val (_, warmS) = timed {
      for ((arm, n, ef) <- Arms) search(ctx, db, arm, v.queries.take(n), ef).collect()
    }

    // timed phase: a fixed number of rounds of every arm, one per 2.3 s of
    // `seconds` (3 rounds, 7-9 s on a 4-core host, at the default 7 s), so
    // every run makes the same calls; each round takes the next slice of
    // the held-out pool
    final case class Call(arm: String, qs: Array[Int], ms: Double, hits: Array[Hit],
        error: String)
    val calls = Seq.newBuilder[Call]
    val host = new HostWatch
    val t0 = System.nanoTime()
    val rounds = math.max(1, math.round(seconds / 2.3).toInt)
    var reqId = 0L
    for (round <- 0 until rounds) {
      for ((arm, n, ef) <- Arms) {
        val qs = Array.tabulate(n)(i => (round * n + i) % Pool)
        reqId += 1
        val s = System.nanoTime()
        calls += (try {
          val df = span("catalog.search_call", "catalog", reqId)(
            search(ctx, db, arm, qs.map(v.queries(_)), ef))
          val hits = Hits.of(span("catalog.meta_attach", "catalog", reqId)(df.collect()))
          Call(arm, qs, (System.nanoTime() - s) / 1e6, hits, null)
        } catch {
          case e: Exception => Call(arm, qs, (System.nanoTime() - s) / 1e6, Array.empty,
            e.toString)
        })
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val hostRes = host.result()

    val done = calls.result()
    val recallByArm = scala.collection.mutable.Map.empty[String, (Double, Long)]
    for (c <- done) {
      val t = truth(if (c.arm == "flat") "flat" else "all")
      val (problems, rec) =
        if (c.error != null) (Seq(c.error), 0.0)
        else Hits.check(c.hits, c.qs.toIndexedSeq.map(v.queries(_)), v.corpus(_),
          i => t(c.qs(i)), k,
          dead = h => c.arm == "flat" && h.tenant != FlatTenant)
      checks.op(problems)
      val (s0, n0) = recallByArm.getOrElse(c.arm, (0.0, 0L))
      recallByArm(c.arm) = (s0 + rec, n0 + c.qs.length)
    }
    val armRecall = recallByArm.map { case (a, (s, n)) => a -> s / math.max(1L, n) }.toMap
    for ((arm, r) <- armRecall; floor <- floors.batchKnn.get(arm) if r < floor)
      checks.op(Seq(s"$arm recall_at_10 $r is below its floor $floor"))
    val answered = done.map(_.qs.length.toLong).sum
    val rawBytes = Tables.length.toDouble * Rows * Dim * 4
    Outcome(
      e2e = Map(
        "setup_s" -> (openS + loadS + warmS),
        "build_s" -> buildS,
        "qps" -> answered / wallS,
        "recall_at_10" -> recallByArm.values.map(_._1).sum / math.max(1L, answered),
        "ingest_rows_per_s" -> Tables.length.toDouble * Rows / loadS,
        "space_amp" -> dirBytes(root) / rawBytes),
      latenciesMs = done.map(_.ms),
      queries = answered,
      untimedS = genS + truthS,
      warmups = Arms.length,
      host = hostRes,
      catalogRoot = root,
      sample = Gen.VecSet(v.corpus.take(3000), v.queries),
      extra = Map("rounds" -> rounds, "recall_by_arm" -> armRecall,
        "call_ms_by_arm" -> done.groupBy(_.arm).map { case (a, cs) =>
          a -> Trace.median(cs.map(_.ms)) }))
  }

  private def search(ctx: Ctx, db: VecDB, arm: String, qs: IndexedSeq[Array[Float]],
      ef: Option[Int]) = {
    if (arm == "flat")
      db.searchBatch("bq", ctx.queriesDf(qs), ctx.k, pattern = Map("tenant" -> FlatTenant))
    else db.searchBatch(arm, ctx.queriesDf(qs), ctx.k, ef = ef)
  }
}
