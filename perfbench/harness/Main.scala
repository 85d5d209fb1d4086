package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Operations attempted, and the ones that failed or answered wrong. */
final class Checks {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val msgs = new ConcurrentLinkedQueue[String]()

  /** Count one operation; it fails if any problem is listed. */
  def op(problems: Seq[String]): Unit = {
    attempted.incrementAndGet()
    if (problems.nonEmpty) {
      failed.incrementAndGet()
      if (msgs.size < 20) msgs.add(problems.take(3).mkString("; "))
    }
  }
  def failures: Seq[String] = msgs.asScala.toSeq
}

/** Live heap: the heap pools' usage right after a full collection, read
  * from each pool's collection usage. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

/** CPU steal and load read from /proc across the timed phase. */
final class HostWatch {
  private def cpu(): Array[Long] = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.split("\\s+").drop(1).map(_.toLong)
  }
  private val c0 = cpu()
  def result(): Map[String, Any] = {
    val c1 = cpu()
    val d = c1.zip(c0).map { case (a, b) => a - b }
    val total = math.max(1L, d.sum)
    val steal = if (d.length > 7) d(7).toDouble / total else 0.0
    val load = scala.io.Source.fromFile("/proc/loadavg").getLines().next()
      .split(" ").take(3).map(_.toDouble)
    Map("cpu_steal_share" -> steal, "loadavg" -> load.toSeq,
      "high_steal" -> (steal > 0.05))
  }
}

/** What one run has to hand to every workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val dir: Path, val floors: Floors) {
  val checks = new Checks
  val k = 10
  def span[T](name: String, layer: String, req: Long = -1L)(body: => T): T =
    tracer.span(name, layer, req)(body)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val vecSchema = StructType(Seq(
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))
  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Rows to append as a local frame. Meta `r` is the harness's row index,
    * so any returned row can be checked against its source vector, and
    * `tenant` is the row's tag. */
  def rowsDf(vs: IndexedSeq[Array[Float]], rowIds: IndexedSeq[Int],
      tag: Int => String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rowIds.map { r =>
      Row(vs(r).toSeq, Map("r" -> r.toString, "tenant" -> tag(r)))
    }: _*), vecSchema)

  def queriesDf(qs: IndexedSeq[Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.indices.map { i =>
      Row(i.toLong, qs(i).toSeq)
    }: _*), querySchema)

  /** Write vectors as `.fvecs` (u32 dim + dim × f32, little endian). */
  def writeFvecs(path: Path, vs: IndexedSeq[Array[Float]]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(path.toFile), 1 << 16))
    try {
      val buf = ByteBuffer.allocate(4 + 4 * vs.head.length).order(ByteOrder.LITTLE_ENDIAN)
      for (v <- vs) {
        buf.clear()
        buf.putInt(v.length)
        v.foreach(buf.putFloat)
        out.write(buf.array())
      }
    } finally out.close()
  }

  def litVec(v: Array[Float]): String =
    v.map(f => java.lang.Float.toString(f) + "F").mkString("array(", ",", ")")

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** One returned row of a KNN answer. */
final case class Hit(qid: Long, id: Long, dist: Double, row: Int, tenant: String)

object Hits {
  def of(rows: Array[Row]): Array[Hit] = rows.map { r =>
    val meta = Option(r.getAs[scala.collection.Map[String, String]]("meta"))
      .getOrElse(Map.empty[String, String])
    Hit(r.getAs[Long]("query_id"), r.getAs[Long]("id"),
      r.getAs[Double]("distance"), meta.get("r").map(_.toInt).getOrElse(-1),
      meta.getOrElse("tenant", ""))
  }

  /** Check one answer of a KNN call and return (problems, recall sum).
    * Per query: exactly k rows, ascending (distance, id), every distance
    * equal to the harness's own recomputation, no row the caller says is
    * dead; recall counts rows shared with `truth`. */
  def check(hits: Array[Hit], queries: IndexedSeq[Array[Float]],
      corpus: Int => Array[Float], truth: Int => Array[Int], k: Int,
      dead: Hit => Boolean = _ => false): (Seq[String], Double) = {
    val problems = Seq.newBuilder[String]
    var recall = 0.0
    val byQ = hits.groupBy(_.qid)
    for (qi <- queries.indices) {
      val hs = byQ.getOrElse(qi.toLong, Array.empty[Hit])
      if (hs.length != k) problems += s"query $qi: ${hs.length} rows, expected $k"
      val sorted = hs.zip(hs.drop(1)).forall { case (a, b) =>
        a.dist < b.dist || (a.dist == b.dist && a.id < b.id) }
      if (!sorted) problems += s"query $qi: rows not ascending by (distance, id)"
      for (h <- hs) {
        if (h.row < 0) problems += s"query $qi: id ${h.id} has no source row"
        else {
          val want = Gen.l2(corpus(h.row), queries(qi))
          if (math.abs(want - h.dist) > 1e-3 * math.max(1.0, want))
            problems += s"query $qi: id ${h.id} distance ${h.dist} != $want"
        }
        if (dead(h)) problems += s"query $qi: deleted id ${h.id} returned"
      }
      val t = truth(qi).toSet
      recall += hs.count(h => t.contains(h.row)).toDouble / k
    }
    (problems.result(), recall)
  }
}

/** What a workload hands back: end-to-end values, request latencies, and
  * the extra facts its per-layer metrics need. */
final case class Outcome(
    e2e: Map[String, Double],
    latenciesMs: Seq[Double],
    queries: Long,
    untimedS: Double,
    warmups: Int,
    host: Map[String, Any],
    catalogRoot: Path,
    sample: Gen.VecSet,
    hotRequests: Set[Long] = Set.empty,
    coldRequests: Set[Long] = Set.empty,
    extra: Map[String, Any] = Map.empty)

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    if (workload == "gen-digest") { GenDigest.run(seed); return }
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val traced = arg(args, "--trace").contains("1")
    val dir = Paths.get(arg(args, "--out").getOrElse(sys.error("--out")))
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(dir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 8192L)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val floors = Floors.load(Paths.get(arg(args, "--layers").getOrElse(sys.error("--layers"))))
    val ctx = new Ctx(spark, seed, seconds, new Tracer(traced, spark.sparkContext), dir, floors)
    val cs0 = (graft.index.CacheStats.graphBuilds.get, graft.index.CacheStats.graphBuildNanos.get,
      graft.index.CacheStats.codesBuilds.get, graft.index.CacheStats.codesBuildNanos.get)
    val out = workload match {
      case "serve_tenants" => Serve.run(ctx)
      case "batch_knn" => BatchKnn.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val cacheStats = Map(
      "index.graph_builds" -> (graft.index.CacheStats.graphBuilds.get - cs0._1).toDouble,
      "index.graph_build_ms" -> (graft.index.CacheStats.graphBuildNanos.get - cs0._2) / 1e6,
      "index.codes_builds" -> (graft.index.CacheStats.codesBuilds.get - cs0._3).toDouble,
      "index.codes_build_ms" -> (graft.index.CacheStats.codesBuildNanos.get - cs0._4) / 1e6,
      "index.graph_cache_mb" -> graft.index.HnswGraphCache.currentBytes / 1048576.0,
      "catalog.disk_mb" -> ctx.dirBytes(out.catalogRoot) / 1048576.0)
    val liveHeapMb = LiveHeap.mb()

    val layers: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val probe = Probes.run(ctx, out)
        ctx.tracer.drain()
        Layers.summarise(ctx, out, cacheStats ++ probe)
      }

    val e2e = out.e2e ++ Map(
      "setup_s" -> (out.e2e("setup_s") + sessionS),
      "live_heap_mb" -> liveHeapMb)
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds,
      "e2e" -> e2e,
      "latency_ms" -> out.latenciesMs,
      "queries" -> out.queries,
      "attempted" -> ctx.checks.attempted.get,
      "failed" -> ctx.checks.failed.get,
      "failures" -> ctx.checks.failures,
      "untimed_s" -> out.untimedS,
      "session_s" -> sessionS,
      "provenance" -> (Map(
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "warmups" -> out.warmups) ++ out.host),
      "extra" -> out.extra,
      "layers" -> layers)
    Files.write(dir.resolve("result.json"),
      Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }
}

object Json {
  def write(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}

/** Correctness floors, read from perfbench/layers.json, where they are
  * recorded beside the layer map. */
final case class Floors(batchKnn: Map[String, Double], serve: Double, dupRecall: Double)

object Floors {
  def load(path: Path): Floors = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val f = org.json4s.jackson.JsonMethods.parse(Files.newInputStream(path)) \ "floors"
    Floors((f \ "batch_knn.recall_at_10").extract[Map[String, Double]],
      (f \ "serve_tenants.recall_at_10").extract[Double],
      (f \ "operators.dup_recall").extract[Double])
  }
}

/** Prints a digest of the generated inputs for a seed, so a test can check
  * that equal seeds give equal inputs and different seeds different ones. */
object GenDigest {
  def run(seed: Long): Unit = {
    val v = Gen.vectors(seed, 1, 500, 50, 32, 8, 0.6)
    val docs = Gen.docs(seed, 300, 16)
    val heldOut = v.queries.forall(q => v.corpus.forall(c => Gen.l2(c, q) > 0))
    println(Json.write(Map(
      "corpus" -> Gen.digest(v.corpus).toString,
      "queries" -> Gen.digest(v.queries).toString,
      "docs" -> docs.texts.mkString("\n").hashCode.toString,
      "planted" -> docs.planted.length,
      "held_out" -> heldOut)))
  }
}
