package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.catalog.VecDB

object Par {
  /** Run `f(0 until n)` on `threads` threads; rethrows the first failure. */
  def run(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      fs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}

/** Many small tenant tables behind one catalog, served per request.
  *
  * 17 tenants exceed the 16-entry index-broadcast LRU while the Zipf(1.0)
  * hot set fits in it, so most requests reuse a cached index and the tail
  * pays a rebuild: the median reads cache hits, the tail reads misses. */
object Serve {
  val Tenants = 17
  val Rows = 500
  val Dim = 128
  val Ef = 24
  val Clients = 2
  val Pool = 64
  val WarmPerClient = 20

  private final case class Req(id: Long, tenant: Int, kind: String,
      qs: Array[Int], ms: Double, hits: Array[Hit], error: String)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val (data, genS) = timed {
      (0 until Tenants).map(t => Gen.vectors(seed, 100 + t, Rows, Pool, Dim, 16, 0.9))
    }
    val (truth, truthS) = timed(data.map(v => Gen.truth(v.corpus, v.queries, k)))
    // tenant popularity order is seeded: rank 0 is the hottest tenant
    val byRank = new scala.util.Random(Gen.rng(seed, 7).nextLong())
      .shuffle((0 until Tenants).toVector)
    val rankOf = byRank.zipWithIndex.toMap
    def key(t: Int) = s"t$t"

    val root = dir.resolve("serve-db")
    val (db, openS) = timed(new VecDB(spark, root.toString))
    val (_, loadS) = timed {
      for (t <- 0 until Tenants) {
        span("catalog.create", "catalog")(db.createTableIfNotExists(key(t), Dim, "l2sqr"))
        span("catalog.append", "catalog")(db.batchAdd(key(t), data(t).corpus.toSeq,
          Seq.tabulate(Rows)(r => Map("r" -> r.toString, "tenant" -> key(t)))))
      }
    }
    val (_, buildS) = timed {
      for (t <- 0 until Tenants)
        span("catalog.build.hnsw", "catalog")(db.buildHnswIndex(key(t)))
    }
    val (_, regS) = timed {
      for (t <- 0 until Tenants)
        span("catalog.register_sql", "catalog")(db.registerSql(key(t)))
    }

    // 70% single-query, 20% 16-query and 10% SQL requests
    val kinds = IndexedSeq.fill(7)("nq1") ++ IndexedSeq.fill(2)("nq16") ++ IndexedSeq("sql")
    val zipf = new Gen.Zipf(Tenants, 1.0)
    val streams = (0 until Clients).map { c =>
      val r = Gen.rng(seed, 3000 + c)
      (r, new Gen.Schedule(r, zipf, kinds))
    }
    val ids = new java.util.concurrent.atomic.AtomicLong

    /** The client's next request; only timed requests get a request id. */
    def request(c: Int, timedReq: Boolean): Req = {
      val (r, schedule) = streams(c)
      val (rank, kind) = schedule.next()
      val tenant = byRank(rank)
      val nq = if (kind == "nq16") 16 else 1
      val start = r.nextInt(Pool)
      val qs = Array.tabulate(nq)(i => (start + i) % Pool)
      val id = if (timedReq) ids.incrementAndGet() else -1L
      val s = System.nanoTime()
      try {
        val hits = kind match {
          case "sql" =>
            val df = span("plans.sql_plan", "plans", id) {
              val d = spark.sql(sqlText(ctx, tenant, data(tenant).queries(qs(0))))
              d.queryExecution.optimizedPlan
              d
            }
            val rows = span("plans.sql_exec", "plans", id)(df.collect())
            rows.map { row =>
              val meta = row.getAs[scala.collection.Map[String, String]]("meta")
              Hit(0L, row.getAs[Long]("id"), row.getAs[Double]("d"),
                meta("r").toInt, meta("tenant"))
            }
          case _ =>
            val df = span("catalog.search_call", "catalog", id)(
              db.searchBatch(key(tenant), queriesDf(qs.map(data(tenant).queries(_))),
                k, ef = Some(Ef)))
            Hits.of(span("catalog.meta_attach", "catalog", id)(df.collect()))
        }
        Req(id, tenant, kind, qs, (System.nanoTime() - s) / 1e6, hits, null)
      } catch {
        case e: Exception => Req(id, tenant, kind, qs, (System.nanoTime() - s) / 1e6,
          Array.empty, e.toString)
      }
    }

    // warm-up with the same request mix, so JIT compilation and the index
    // LRU settle before timing starts
    val (_, warmS) = timed {
      Par.run(Clients, Clients) { c =>
        for (_ <- 0 until WarmPerClient) {
          val w = request(c, timedReq = false)
          if (w.error != null) checks.op(Seq(w.error))
        }
      }
    }

    val reqs = new ConcurrentLinkedQueue[Req]()
    val host = new HostWatch
    val t0 = System.nanoTime()
    // a fixed number of whole blocks per client: every run serves the same
    // requests in the same mix
    Par.run(Clients, Clients) { c =>
      for (_ <- 0 until blocks(seconds); _ <- kinds.indices)
        reqs.add(request(c, timedReq = true))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val hostRes = host.result()

    // answers are checked after the timed phase, so checking costs no qps
    val all = reqs.asScala.toSeq.sortBy(_.id)
    var recallSum = 0.0
    var answered = 0L
    for (q <- all) {
      val queries = q.qs.toIndexedSeq.map(data(q.tenant).queries(_))
      val (problems, rec) =
        if (q.error != null) (Seq(q.error), 0.0)
        else Hits.check(q.hits, queries, data(q.tenant).corpus(_),
          i => truth(q.tenant)(q.qs(i)), k)
      val sqlProblems =
        if (q.kind != "sql" || q.error != null) Nil
        else {
          val viaApi = Hits.of(db.searchBatch(key(q.tenant), queriesDf(queries), k,
            ef = Some(Ef)).collect())
          if (viaApi.map(_.id).toSeq == q.hits.map(_.id).toSeq) Nil
          else Seq(s"sql ids ${q.hits.map(_.id).mkString(",")} != searchBatch " +
            viaApi.map(_.id).mkString(","))
        }
      val tenantProblems = q.hits.filter(_.tenant != key(q.tenant))
        .map(h => s"row ${h.id} of tenant ${h.tenant} served to ${key(q.tenant)}")
      checks.op(problems ++ sqlProblems ++ tenantProblems)
      recallSum += rec
      answered += q.qs.length
    }
    val recall = recallSum / math.max(1L, answered)
    if (recall < floors.serve)
      checks.op(Seq(s"recall_at_10 $recall is below its floor ${floors.serve}"))
    val rawBytes = Tenants.toDouble * Rows * Dim * 4
    Outcome(
      e2e = Map(
        "setup_s" -> (openS + loadS + regS + warmS),
        "build_s" -> buildS,
        "qps" -> answered / wallS,
        "recall_at_10" -> recall,
        "ingest_rows_per_s" -> Tenants.toDouble * Rows / loadS,
        "space_amp" -> dirBytes(root) / rawBytes),
      latenciesMs = all.map(_.ms),
      queries = answered,
      untimedS = genS + truthS,
      warmups = Clients * WarmPerClient,
      host = hostRes,
      catalogRoot = root,
      sample = Gen.VecSet(data.take(4).flatMap(_.corpus).toArray, data(0).queries),
      hotRequests = all.filter(q => rankOf(q.tenant) < 8).map(_.id).toSet,
      coldRequests = all.filter(q => rankOf(q.tenant) >= 12).map(_.id).toSet,
      extra = Map("requests" -> all.length,
        "kinds" -> all.groupBy(_.kind).map { case (k2, v) => k2 -> v.length }))
  }

  /** Request blocks per client for a run of `seconds`: one block per
    * 2.5 s (3 blocks of 10 requests, about 9 s on a 4-core host, at the
    * default 7 s). */
  def blocks(seconds: Int): Int = math.max(1, math.round(seconds / 2.5).toInt)

  def sqlText(ctx: Ctx, tenant: Int, q: Array[Float]): String = {
    val dist = s"vec_l2sq(vec, ${ctx.litVec(q)})"
    s"SELECT id, meta, graft_topk_ef($dist, $Ef) AS d FROM t$tenant ORDER BY d LIMIT ${ctx.k}"
  }
}
