package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.functions.Encoders
import graft.index.IndexStore
import graft.operators.{Chunking => _, _}
import graft.pipeline.{CurationPipeline, IndexPipeline}

/** One benchmark run: one workload, one seed, one timed window, traced or
  * not. Drives graft's public API from a single JVM as one closed-loop
  * client (each request starts when the previous one returned). Writes its
  * result as JSON to `--out`; `run.py` adds the checks that run outside
  * the JVM and prints the final line.
  *
  *   graftbench.Main --workload serve_churn --seed 1 --seconds 10
  *                   --trace 0 --work <dir> --out <file>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"))
    require(Set("serve_churn", "ingest_curate")(o.workload),
      s"unknown workload ${o.workload}")
    val b = new Bench(o)
    val json = try b.run() finally b.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

final class Bench(o: Main.Opts) {
  import Bench._

  // ---------------------------------------------------------------- session
  private val slots = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
  private val ticks0 = cpuTicks()
  private val sessionS = {
    val t0 = System.nanoTime()
    SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    (System.nanoTime() - t0) / 1e9
  }
  private val spark = SparkSession.active
  private val sc = spark.sparkContext
  sc.setLogLevel("ERROR")
  private val listener = new JobListener
  if (o.trace) sc.addSparkListener(listener)
  private val spans = new Spans
  import spark.implicits._

  def close(): Unit = spark.stop()

  // ------------------------------------------------------------- accounting
  private val attempted = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  private val failed = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  // latencies of timed requests net of steal, by kind, untraced and traced
  private val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val tracedLat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  // untraced wall-clock latencies and end-to-end figures, steal included
  private val wallLat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val wall = mutable.LinkedHashMap.empty[String, Double]
  private val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private val traced = ArrayBuffer.empty[TraceRec]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var reqSeq = 0
  // bytes of the serving index's vector files, for the read fraction
  private var vectorBytes = 0L

  private def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, ArrayBuffer.empty) += v

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** One request: `plan` builds the DataFrame (or prepares the call),
    * `exec` runs it. `verify` returns what is wrong with the result; a
    * request that throws or fails `verify` counts as failed and the stream
    * continues. A [[Wrong]] result fails the run; a [[KnownFault]] is the
    * exact symptom of a known program fault and fails only the request.
    */
  private def request[P, T](kind: String, timed: Boolean, tracedReq: Boolean)(
      plan: => P)(exec: P => T)(verify: T => Option[Bad]): Option[T] = {
    reqSeq += 1
    val rid = s"$kind-$reqSeq"
    val tag = s"gb:$rid"
    if (tracedReq) sc.addJobTag(tag)
    val frames0 = if (tracedReq) sc.getPersistentRDDs.size else 0
    val s0 = spans.now()
    var s1 = s0
    val c0 = cpuTicks()
    val n0 = System.nanoTime()
    val out = try {
      val p = plan
      s1 = spans.now()
      val n1 = System.nanoTime()
      val r = exec(p)
      Right((r, (n1 - n0) / 1e6, (System.nanoTime() - n1) / 1e6))
    } catch {
      case NonFatal(e) => Left(e)
    } finally if (tracedReq) sc.removeJobTag(tag)
    val s2 = spans.now()
    val avail = available(c0, cpuTicks())
    System.err.println(f"[perfbench] $rid ${if (timed) "timed" else "warm"} ${s2 - s0}%.0f ms")
    if (timed) attempted(kind) += 1
    out match {
      case Left(e) =>
        if (timed) failed(kind) += 1
        System.err.println(s"[perfbench] $rid threw: $e")
        None
      case Right((r, planMs, execMs)) =>
        val err = verify(r)
        err.foreach { e =>
          if (timed) failed(kind) += 1
          e match {
            case Wrong(m) => check(s"$kind result", ok = false, s"$rid: $m")
            case KnownFault(m) => System.err.println(s"[perfbench] $rid failed (known fault): $m")
          }
        }
        if (timed) {
          (if (tracedReq) tracedLat else lat).getOrElseUpdate(kind, ArrayBuffer.empty) +=
            (planMs + execMs) * avail
          if (!tracedReq) wallLat.getOrElseUpdate(kind, ArrayBuffer.empty) += planMs + execMs
          if (tracedReq) traced += TraceRec(rid, kind, tag, s0, s1, s2, planMs, execMs,
            sc.getPersistentRDDs.size - frames0, vectorBytes)
        }
        if (err.isEmpty) Some(r) else None
    }
  }

  // ----------------------------------------------------------------- inputs
  private def writeDocs(docs: Seq[Gen.Doc], dir: String): Unit =
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def writeEmbeddings(e: Seq[(Long, Array[Float], Int)], dir: String): Unit =
    e.map { case (i, v, l) => (i, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def readDocs(dir: String): DataFrame = spark.read.parquet(s"$dir/documents.parquet")

  private def dataFiles(dir: String): Seq[(String, Long)] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) out += ((f.getPath.toString, f.getLen))
    }
    out.toSeq
  }

  /** The artifact's stored vectors with their IVF cells (the `cell`
    * partition column; 0 for a flat layout).
    */
  private def storedVectors(dir: String): IndexedSeq[Reference.Stored] = {
    val df = spark.read.parquet(dir)
    val cell = if (df.columns.contains("cell")) col("cell").cast("int") else org.apache.spark.sql.functions.lit(0)
    df.select(col("id"), col("vec"), cell).collect()
      .map(r => Reference.Stored(r.getString(0), r.getSeq[Float](1).toArray, r.getInt(2))).toIndexedSeq
  }

  private def expectedChunks(docs: Seq[Gen.Doc]): Long =
    docs.map(d => Reference.chunkCount(d.text.length).toLong).sum

  /** Build check: every stored vector has unit norm and the vector count
    * equals the chunk count computed from the texts' lengths.
    */
  private def checkBuild(what: String, vectors: IndexedSeq[Reference.Stored],
                         docs: Seq[Gen.Doc], manifestCount: Long): Unit = {
    val want = expectedChunks(docs)
    check(s"$what vector count", vectors.size == want && manifestCount == want,
      s"stored ${vectors.size}, manifest $manifestCount, chunks by length $want")
    val bad = vectors.count(v => math.abs(math.sqrt(Reference.dot(v.vec, v.vec)) - 1.0) > 1e-4)
    check(s"$what unit norm", bad == 0, s"$bad vectors off unit norm")
  }

  private val cfg = IndexPipeline.Config("bench", backend = "ivf")
  private val encode = Encoders.get(cfg.model).openPartition(cfg.dim, cfg.normalize)

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // -------------------------------------------------------------- workloads
  def run(): String = {
    val startRun = System.nanoTime()
    val (e2e, extraOut) = o.workload match {
      case "serve_churn"   => serve()
      case "ingest_curate" => ingest()
    }
    System.gc()
    val rt = Runtime.getRuntime
    note("jvm.heap_after_gc_mb", (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
    System.err.println(f"[perfbench] run took ${(System.nanoTime() - startRun) / 1e9}%.1f s")
    render(e2e, extraOut)
  }

  private def serve(): (Map[String, Double], String) = {
    val docs = Gen.corpus(o.seed, CorpusDocs)
    val emb = Gen.embeddings(o.seed)
    val dataDir = s"${o.work}/data"
    val root = s"${o.work}/index"
    // set-up, once and cold, as a user's session pays it: write the
    // inputs, build the index, prewarm the serving caches
    val t0 = System.nanoTime()
    writeDocs(docs, dataDir)
    writeEmbeddings(emb, dataDir)
    val tb = System.nanoTime()
    val manifestCount = IndexPipeline.build(readDocs(dataDir), root, cfg).count
    note("IndexStore.build_ms", (System.nanoTime() - tb) / 1e6)
    note("pipeline.build_docs_per_s", CorpusDocs / ((System.nanoTime() - tb) / 1e9))
    val tp = System.nanoTime()
    Search.prewarm(spark, dataDir)
    note("Search.prewarm_ms", (System.nanoTime() - tp) / 1e6)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up $setupS%.2f s: build ${(tp - tb) / 1e9}%.2f s, prewarm ${(System.nanoTime() - tp) / 1e9}%.2f s")
    val latest = s"$root/bench/latest/vectors"
    checkBuild("index build", storedVectors(latest), docs, manifestCount)

    // ---- request stream: every query text is new to the session
    val seen = mutable.HashSet.empty[String]
    val fresh = Gen.rng(o.seed, 7)
    def nextQuery(): (String, Long) = {
      var t = Gen.queryText(fresh, 3 + fresh.nextInt(3))
      while (seen(t)) t = Gen.queryText(fresh, 3 + fresh.nextInt(3))
      seen += t
      (t, fresh.nextInt(emb.size).toLong)
    }
    // vector-search results: (kind, text, appends made before it, hits)
    val vectorResults = ArrayBuffer.empty[(String, String, Int, Seq[(String, Double, String)])]
    // BM25 and hybrid results: (kind, text, query vector id, hits)
    val results = ArrayBuffer.empty[(String, String, Long, Seq[(Long, Double)])]
    vectorBytes = dataFiles(latest).map(_._2).sum
    var appends = 0
    val appended = ArrayBuffer.empty[Gen.Doc]
    var appendedVectors = 0L
    var appendMs = 0.0
    var total = manifestCount

    def vectorHits(df: DataFrame): Seq[(String, Double, String)] =
      df.collect().toSeq.map(r => (r.getAs[String]("id"), r.getAs[Double]("score"),
        r.getAs[String]("preview")))

    def vector(text: String, timed: Boolean, tr: Boolean): Unit =
      request("vector", timed, tr)(IndexPipeline.search(spark, root, "bench", text, K))(
        vectorHits) { hits =>
        if (timed) vectorResults += (("vector", text, appends, hits))
        // fewer than k hits only once appended chunks exist; after the
        // stream every result is checked against the exact probed top-k
        sortedByScore(hits.map(h => (h._1, h._2))).orElse(
          if (hits.size != K && appends == 0) Some(s"${hits.size} hits, want $K") else None
        ).map(Wrong)
      }

    def bm25(text: String, timed: Boolean, tr: Boolean): Unit =
      request("bm25", timed, tr)(Search.bm25TopFor(spark, dataDir, text, K))(
        _.collect().toSeq.sortBy(_.getAs[Long]("rk"))
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))) { hits =>
        if (timed) results += (("bm25", text, 0L, hits))
        if (hits.size == K) None else Some(Wrong(s"${hits.size} hits"))
      }

    def hybrid(text: String, vecId: Long, timed: Boolean, tr: Boolean): Unit =
      request("hybrid", timed, tr)(Search.hybridRrfFor(spark, dataDir, text, vecId))(
        _.collect().toSeq.sortBy(_.getAs[Long]("rk"))
          .map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf_score")))) { hits =>
        if (timed) results += (("hybrid", text, vecId, hits))
        if (hits.size == K) None else Some(Wrong(s"${hits.size} hits"))
      }

    def append(timed: Boolean, tr: Boolean): Unit = {
      val a = appends
      val slice = Gen.corpus(o.seed, SliceDocs, AppendIdBase + a * 100L, 100L + a) :+
        Gen.Doc(AppendIdBase + a * 100L + 99, probeText(a), "en", "append")
      val want = expectedChunks(slice)
      appended ++= slice
      val t0 = System.nanoTime()
      request("append", timed, tr)(IndexPipeline.vectorize(
          slice.map(d => (d.docId, d.text)).toDF("doc_id", "text"), cfg))(
        v => IndexStore.append(v, root, "bench")) { m =>
        total += want
        if (m.count == total) None else Some(Wrong(s"manifest count ${m.count} != $total"))
      }
      appends += 1
      if (timed) {
        appendMs += (System.nanoTime() - t0) / 1e6
        appendedVectors += want
      }
      vectorBytes = dataFiles(latest).map(_._2).sum
      // the first vector search after the append: the appended probe
      // chunk's own text must come back as the top hit with score 1.0.
      // The known fault drops the probe (and every other appended chunk)
      // from the hits; that symptom, and only it, fails the request
      // without failing the run, and the post-stream check pins it down.
      val probeId = s"${AppendIdBase + a * 100L + 99}#0"
      request("search_after_append", timed, tr)(
        IndexPipeline.search(spark, root, "bench", probeText(a), K))(vectorHits) { hits =>
        if (timed) vectorResults += (("search_after_append", probeText(a), appends, hits))
        hits.headOption match {
          case Some((id, s, p)) if id == probeId && math.abs(s - 1.0) < 1e-6 && p == probeText(a) => None
          case h if !hits.exists(_._1 == probeId) && sortedByScore(hits.map(x => (x._1, x._2))).isEmpty =>
            Some(KnownFault(s"probe $probeId missing, top hit $h"))
          case h => Some(Wrong(s"top hit $h, want ($probeId, 1.0, '${probeText(a)}')"))
        }
      }
    }

    def round(timed: Boolean, tr: Boolean): Boolean = {
      append(timed, tr)
      vector(nextQuery()._1, timed, tr)
      bm25(nextQuery()._1, timed, tr)
      val (t, v) = nextQuery()
      hybrid(t, v, timed, tr)
      true
    }

    val ts0 = System.nanoTime()
    val (opsPerS, rounds) = stream(round, 1)
    System.err.println(f"[perfbench] stream incl. warm-up ${(System.nanoTime() - ts0) / 1e9}%.1f s")
    if (o.trace) {
      note("Search.session_frames", sc.getPersistentRDDs.size.toDouble)
      val files = dataFiles(latest)
      note("IndexStore.data_files", files.size.toDouble)
      note("IndexStore.bytes_per_vector", files.map(_._2).sum.toDouble / total)
      if (appendMs > 0) note("IndexStore.append_vectors_per_s", appendedVectors / (appendMs / 1e3))
    }
    System.err.println(s"[perfbench] $rounds timed rounds")

    // ---- correctness, outside the timed window
    val vecs = storedVectors(latest)
    check("final vector count", vecs.size == total && vecs.map(_.id).distinct.size == total,
      s"${vecs.size} rows, ${vecs.map(_.id).distinct.size} ids, manifest $total")
    val chunkText = ((docs ++ appended).flatMap(d => Reference.chunks(d.text).zipWithIndex
      .map { case (c, j) => s"${d.docId}#$j" -> c })).toMap
    // every vector result against the exact inner-product top-k over the
    // vectors of the probed cells as they stood at request time. The
    // known fault may drop the appended chunks from that list; any other
    // difference fails the run.
    val cents = IndexStore.loadCentroids(spark, root, "bench")
    val nprobe = Some(IndexStore.manifest(root, "bench").servingProbes).filter(_ >= 1)
      .getOrElse(VectorOps.NProbe)
    def docOf(id: String): Long = id.takeWhile(_ != '#').toLong
    var shortByFault = 0
    vectorResults.foreach { case (kind, text, n, hits) =>
      val present = vecs.filter(v => docOf(v.id) < AppendIdBase + n * 100L)
      val ranked = Reference.ivfRanked(present, cents, encode(text), nprobe).take(K + TiePool)
      val got = hits.map(h => (h._1, h._2))
      val whole = Reference.sameRanking(got, ranked.take(K), pool = ranked)
      val kept = ranked.filter(h => docOf(h._1) < AppendIdBase)
      val short = Reference.sameRanking(got, ranked.take(K).filter(h => docOf(h._1) < AppendIdBase), pool = kept)
      if (whole.nonEmpty && short.isEmpty) shortByFault += 1
      check(s"$kind hits are the exact top-$K of the probed cells", whole.isEmpty || short.isEmpty,
        s"'$text' after $n appends: ${whole.getOrElse("")}")
      hits.foreach { case (id, _, preview) =>
        check(s"$kind preview is the chunk text", chunkText.get(id).contains(preview),
          s"'$text' $id: preview '$preview'")
      }
    }
    System.err.println(s"[perfbench] $shortByFault of ${vectorResults.size} vector results lack appended chunks (known fault)")
    val pick = Gen.rng(o.seed, 9)
    def sample[A](xs: Seq[A]): Seq[A] = pick.shuffle(xs).take(ChecksPerKind)
    val bm = new Reference.Bm25(docs.map(d => d.docId -> d.text))
    sample(results.filter(_._1 == "bm25").toSeq).foreach { case (_, text, _, got) =>
      val err = Reference.sameRanking(got, bm.top(text, K))
      check("bm25 matches BM25Okapi", err.isEmpty, s"'$text': ${err.getOrElse("")}")
    }
    val embVecs = emb.map { case (i, v, _) => i -> v }
    sample(results.filter(_._1 == "hybrid").toSeq).foreach { case (_, text, vecId, got) =>
      val want = Reference.rrf(Reference.cosineTop(embVecs, vecId, 20).map(_._1),
        bm.top(text, 20).map(_._1), K)
      val err = Reference.sameRanking(got, want, 1e-9)
      check("hybrid matches recomputed RRF", err.isEmpty, s"'$text'/$vecId: ${err.getOrElse("")}")
    }
    if (o.trace) note("IndexPipeline.search.recall_at_10", recallAt10(root, "bench", vecs))
    (Map("ops_per_s" -> opsPerS, "setup_s" -> setupNet(setupS)),
      s""""index_check": {"vectors": "${latest}", "count": $total},
         | "known_fault": {"vector and search_after_append results lacking appended chunks": $shortByFault, "of": ${vectorResults.size}}""".stripMargin)
  }

  /** Mean overlap of `IndexPipeline.search`'s top-10 with the exact
    * inner-product top-10 over the artifact's stored vectors, for a fixed
    * seeded query set.
    */
  private def recallAt10(root: String, name: String, vecs: IndexedSeq[Reference.Stored]): Double = {
    val r = Gen.rng(o.seed, 8)
    val qs = (0 until RecallQueries).map(_ => Gen.queryText(r, 4))
    qs.map { q =>
      val got = IndexPipeline.search(spark, root, name, q, K).collect().map(_.getAs[String]("id")).toSet
      val exact = Reference.ipTop(vecs, encode(q), K)
      exact.count(got).toDouble / K
    }.sum / qs.size
  }

  private def ingest(): (Map[String, Double], String) = {
    val docs = Gen.corpus(o.seed, CorpusDocs)
    // enough for rounds three times faster than today's; a run that
    // still runs out ends its timed window early
    val nSnap = WarmSnapshots + o.seconds / 2 + 3
    val subsets = (0 until nSnap).map { k =>
      Gen.rng(o.seed, 200L + k).shuffle(docs).take(SnapshotDocs).sortBy(_.docId)
    }
    // set-up, once and cold: one job writes every snapshot, partitioned
    // by snapshot number
    val snapRoot = o.work
    val t0 = System.nanoTime()
    val all = subsets.zipWithIndex.flatMap { case (ds, k) =>
      ds.map(d => (k, d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    }.toDF("snap", "doc_id", "text", "lang", "source", "n_chars")
    all.write.partitionBy("snap").parquet(s"$snapRoot/snaps")
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up $setupS%.2f s")
    // the traced run's stage timings read a copy (outside set-up)
    if (o.trace) all.write.partitionBy("snap").parquet(s"$snapRoot/stage")
    val idxRoot = s"${o.work}/index"
    var next = 0
    var buildS = 0.0
    var curateS = 0.0
    var timedDocs = 0L
    var firstTimed = -1
    val reports = mutable.LinkedHashMap.empty[Int, CurationPipeline.Report]

    def round(timed: Boolean, tr: Boolean): Boolean = {
      if (next == nSnap) return false
      val k = next
      next += 1
      val snap = s"$snapRoot/snaps/snap=$k"
      if (timed && firstTimed < 0) firstTimed = k
      val tb = System.nanoTime()
      request("build", timed, tr)(spark.read.parquet(snap))(d =>
        IndexPipeline.build(d, idxRoot, cfg.copy(name = s"s$k"))) { m =>
        val want = expectedChunks(subsets(k))
        if (m.count == want) None else Some(Wrong(s"snapshot $k: manifest ${m.count} != $want chunks"))
      }
      val tc = System.nanoTime()
      request("curate", timed, tr)(spark.read.parquet(snap)) { d =>
        val (curated, _, rep) = CurationPipeline.run(d)
        curated.write.format("noop").mode("overwrite").save()
        rep
      } { rep =>
        reports(k) = rep
        funnelError(rep, SnapshotDocs).map(Wrong)
      }
      if (timed) {
        buildS += (tc - tb) / 1e9
        curateS += (System.nanoTime() - tc) / 1e9
        timedDocs += SnapshotDocs
      }
      if (tr) stageTimings(s"$snapRoot/stage/snap=$k")
      true
    }

    val ts0 = System.nanoTime()
    val (opsPerS, rounds) = stream(round, WarmSnapshots)
    System.err.println(f"[perfbench] stream incl. warm-up ${(System.nanoTime() - ts0) / 1e9}%.1f s, $rounds timed rounds")
    if (o.trace) {
      note("pipeline.build_docs_per_s", timedDocs / buildS)
      note("pipeline.curate_docs_per_s", timedDocs / curateS)
    }
    // ---- correctness, outside the timed window
    val tpost = System.nanoTime()
    val k = firstTimed
    val latest = s"$idxRoot/s$k/latest/vectors"
    val vecs = storedVectors(latest)
    checkBuild(s"snapshot $k build", vecs, subsets(k), IndexStore.manifest(idxRoot, s"s$k").count)
    val snap = s"$snapRoot/snaps/snap=$k"
    val (curated, _, rep) = CurationPipeline.run(spark.read.parquet(snap))
    val kept = curated.select(col("doc_id")).as[Long].collect().sorted
    check("curated rows equal the kept count", kept.length == rep.nKept && reports.get(k).forall(_.nKept == rep.nKept),
      s"${kept.length} rows, report ${rep.nKept}, timed report ${reports.get(k).map(_.nKept)}")
    // the pipeline_filter oracle reads the snapshot with DuckDB (run.py)
    // the oracle SQL generator also fits the vector-family oracles, so it
    // reads an embeddings table of its own (a small one: pipeline_filter's
    // SQL does not depend on it)
    val oracleDir = s"${o.work}/oracle"
    writeEmbeddings(Gen.embeddings(o.seed, 256), oracleDir)
    val sql = SparkEntry.oracleSqlFor(spark, oracleDir)("pipeline_filter")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oracleDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$oracleDir/pipeline_filter.sql"),
      sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$oracleDir/kept.txt"),
      kept.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(f"[perfbench] checks took ${(System.nanoTime() - tpost) / 1e9}%.1f s")
    if (o.trace) note("IndexPipeline.search.recall_at_10", recallAt10(idxRoot, s"s$k", vecs))
    (Map("ops_per_s" -> opsPerS, "setup_s" -> setupNet(setupS)),
      s""""oracle": {"documents": "$snap", "sql": "$oracleDir/pipeline_filter.sql", "kept": "$oracleDir/kept.txt"}""")
  }

  /** The build and curation stages timed one by one on a copy of the
    * snapshot (a fresh path, so no session cache from the timed pass is
    * read). Traced runs only.
    */
  private def stageTimings(dir: String): Unit = {
    def timeMs[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(dir)
    val (chunks, chunkMs) = timeMs { val c = IndexPipeline.chunked(docs, cfg).localCheckpoint(true); c }
    note("Chunking.chunk_ms", chunkMs)
    val (vecs, embedMs) = timeMs {
      graft.functions.Embedder.embed(chunks, cfg.dim, cfg.normalize, Encoders.get(cfg.model))
        .toDF().select(col("id"), col("vec")).localCheckpoint(true)
    }
    note("Embedder.embed_ms", embedMs)
    note("IvfModel.fit_ms", timeMs(IvfModel.fitFromDf(vecs, "id", "vec", cfg.nlist))._2)
    val base = docs.select(col("doc_id"), col("text"))
    note("TextOps.quality_ms", timeMs(noop(TextOps.withQuality(base)))._2)
    note("TextOps.langid_ms", timeMs(noop(TextOps.withLangid(base)))._2)
    val (edges, edgesMs) = timeMs {
      val e = Dedup.verifiedComponentEdgesDf(base).localCheckpoint(true); e
    }
    note("Dedup.edges_ms", edgesMs)
    note("Dedup.clusters_ms", timeMs(noop(Dedup.clustersFromPairs(edges)))._2)
    Seq(chunks, vecs, edges).foreach(_.unpersist(blocking = true))
  }

  private def funnelError(r: CurationPipeline.Report, n: Long): Option[String] = {
    val lo = r.nDocs - (r.nQualityFail + r.nLangFail + r.nDupDrop)
    val hi = r.nDocs - Seq(r.nQualityFail, r.nLangFail, r.nDupDrop).max
    if (r.nDocs == n && r.nKept >= lo && r.nKept <= hi && r.nKept > 0 &&
        math.abs(r.keepRate - r.nKept.toDouble / r.nDocs) < 1e-9) None
    else Some(s"funnel does not add up: $r")
  }

  /** Untimed warm-up rounds, then whole timed rounds until the window is
    * spent (or a round reports its inputs ran out). In a traced run every
    * other timed round is traced, so the untraced rounds give the tracing
    * overhead. Returns (requests per second, timed rounds).
    */
  private def stream(round: (Boolean, Boolean) => Boolean, minWarm: Int): (Double, Int) = {
    val w0 = System.nanoTime()
    var warm = 0
    // a traced run compares traced with untraced rounds, so it warms one
    // round longer: the first timed round must not still be warming up
    val warmRounds = if (o.trace) minWarm + 1 else minWarm
    while (warm < warmRounds || (System.nanoTime() - w0) / 1e9 < WarmSeconds) {
      require(round(false, false), "inputs ran out during warm-up")
      warm += 1
    }
    val c0 = cpuTicks()
    val t0 = System.nanoTime()
    var n = 0
    var more = true
    // a traced run needs an untraced round too, for the overhead
    val minRounds = if (o.trace) 2 else 1
    while (more && (n < minRounds || (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      more = round(true, o.trace && n % 2 == 1)
      if (more) n += 1
    }
    if (!more) System.err.println("[perfbench] inputs ran out: timed window ended early")
    val secs = (System.nanoTime() - t0) / 1e9
    val avail = available(c0, cpuTicks())
    note("host.steal_pct", 100.0 * (1.0 - avail))
    val ops = (lat.values ++ tracedLat.values).map(_.size).sum
    wall("ops_per_s") = ops / secs
    (ops / (secs * avail), n)
  }

  /** `setup_s`, session start through the workload's set-up of
    * `setupS` seconds, net of steal.
    */
  private def setupNet(setupS: Double): Double = {
    wall("setup_s") = sessionS + setupS
    (sessionS + setupS) * available(ticks0, cpuTicks())
  }

  // ----------------------------------------------------------------- output
  private def render(e2eIn: Map[String, Double], extra: String): String = {
    def geomean(byKind: Iterable[ArrayBuffer[Double]]): Double =
      math.exp(byKind.map(v => math.log(median(v.toSeq))).sum / byKind.size)
    val e2e = e2eIn + ("p50_geomean_ms" -> geomean((if (lat.nonEmpty) lat else tracedLat).values))
    if (wallLat.nonEmpty) wall("p50_geomean_ms") = geomean(wallLat.values)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) E2E.map { case (n, u) => (n, e2e(n), u) }
      else PerLayer.map { case (n, u) => (n, layerValue(n), u) }
    val timing = (lat.toSeq.map { case (k, v) => (k, v, false) } ++
      tracedLat.toSeq.map { case (k, v) => (k, v, true) }).map { case (k, v, t) =>
      val p90 = if (v.size >= 100) f""", "p90_ms": ${quantile(v.toSeq, 0.9)}%.4f""" else ""
      f"""{"op": "$k", "traced": $t, "n": ${v.size}, "p50_ms": ${median(v.toSeq)}%.4f$p90}"""
    }
    val ops = (attempted.keys ++ failed.keys).toSeq.distinct.map(k =>
      s"""{"op": "$k", "attempted": ${attempted(k)}, "failed": ${failed(k)}}""")
    val chk = checks.groupBy(_._1).toSeq.map { case (n, xs) =>
      val bad = xs.filterNot(_._2)
      s"""{"check": ${q(n)}, "passed": ${xs.size - bad.size}, "failed": ${bad.size}${
        bad.headOption.map(b => s""", "first_failure": ${q(b._3)}""").getOrElse("")}}"""
    }
    s"""{"correct": ${checks.forall(_._2)}, "attempted": ${attempted.values.sum}, "failed": ${failed.values.sum},
       | "metrics": {${metrics.map { case (n, v, u) => s"${q(n)}: {\"value\": $v, \"unit\": ${q(u)}}" }.mkString(", ")}},
       | "timings": [${timing.mkString(", ")}],
       | "ops": [${ops.mkString(", ")}],
       | "checks": [${chk.mkString(", ")}],
       | "spans": ${if (o.trace) q(writeSpans()) else "null"},
       | "wall": {${wall.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}, "steal_pct": ${layer.get("host.steal_pct").map(_.head).getOrElse(0.0)}},
       | $extra}
       |""".stripMargin
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** Traced-run aggregation: job and task counters per request from the
    * listener, spans per request (request > plan | exec > spark job), and
    * self time per span name.
    */
  private lazy val traceAgg: Unit = {
    listener.drain(sc)
    val layerName = Map("vector" -> "IndexPipeline.search", "bm25" -> "Search.bm25",
      "hybrid" -> "Search.hybrid", "append" -> "IndexStore.append",
      "search_after_append" -> "IndexPipeline.search.after_append",
      "build" -> "IndexPipeline.build", "curate" -> "CurationPipeline.run")
    var jobs, tasks, runMs, gcMs, inB, shufB, spillB = 0.0
    var wallMs = 0.0
    traced.foreach { t =>
      val js = listener.jobsOf(t.tag)
      val root = spans.add(t.rid, t.kind, 0, t.start, t.end)
      val plan = spans.add(t.rid, "plan", root, t.start, t.planEnd)
      val exec = spans.add(t.rid, "exec", root, t.planEnd, t.end)
      js.foreach { j =>
        val parent = if (j.start < t.planEnd) plan else exec
        spans.add(t.rid, "spark.job", parent, j.start.toDouble,
          if (j.end > 0) j.end.toDouble else t.end)
      }
      jobs += js.size; tasks += js.map(_.tasks).sum; runMs += js.map(_.runMs).sum
      gcMs += js.map(_.gcMs).sum; inB += js.map(_.inputBytes).sum
      shufB += js.map(_.shuffleWriteBytes).sum; spillB += js.map(_.spillBytes).sum
      wallMs += t.planMs + t.execMs
      val ln = layerName(t.kind)
      t.kind match {
        case "vector" | "bm25" | "hybrid" =>
          note(s"$ln.plan_ms", t.planMs)
          note(s"$ln.exec_ms", t.execMs)
          note(s"$ln.jobs", js.size)
        case _ =>
      }
      if (t.kind == "vector" && t.vectorBytes > 0)
        note("IndexPipeline.search.read_fraction", js.map(_.inputBytes).sum.toDouble / t.vectorBytes)
      if (t.kind == "bm25") note("Search.bm25.frames_added", t.framesAdded)
      if (t.kind == "curate") note("CurationPipeline.frames_added", t.framesAdded)
      if (t.kind == "append") note("IndexStore.append.jobs", js.size)
    }
    val n = math.max(1, traced.size).toDouble
    note("spark.jobs_per_op", jobs / n)
    note("spark.tasks_per_op", tasks / n)
    note("spark.slot_busy_ratio", if (wallMs > 0) runMs / (wallMs * slots) else 0.0)
    note("spark.gc_ms_per_op", gcMs / n)
    note("spark.input_mb_per_op", inB / n / 1048576.0)
    note("spark.shuffle_write_mb_per_op", shufB / n / 1048576.0)
    note("spark.spill_mb_per_op", spillB / n / 1048576.0)
    val self = spans.selfTimes
    Seq("plan", "exec", "spark.job").foreach(s => note(s"self.$s.ms_per_op", self.getOrElse(s, 0.0) / n))
    // every other timed round ran untraced: overhead = geometric mean over
    // request kinds of (traced median / untraced median) - 1
    val both = lat.keys.filter(tracedLat.contains).toSeq
    if (both.nonEmpty) note("trace.overhead_pct", 100.0 * (math.exp(both.map(k =>
      math.log(median(tracedLat(k).toSeq) / median(lat(k).toSeq))).sum / both.size) - 1.0))
  }

  private def writeSpans(): String = {
    traceAgg
    val dir = java.nio.file.Paths.get(o.work).getParent.resolve("trace")
    java.nio.file.Files.createDirectories(dir)
    val p = dir.resolve(s"${o.workload}-seed${o.seed}.spans.json")
    val self = spans.selfTimes.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"""{"span": ${q(k)}, "self_ms": $v%.3f}""" }
    java.nio.file.Files.write(p, (s"""{"self_times": [${self.mkString(", ")}],\n"spans": """ +
      spans.toJson + "}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toString
  }

  /** A per-layer value: the median of what was noted (means for per-call
    * counts), the untraced per-kind medians, or 0 when the workload does
    * not call that layer.
    */
  private def layerValue(n: String): Double = {
    traceAgg
    val kindP50 = Map("vector_search_p50_ms" -> "vector", "bm25_search_p50_ms" -> "bm25",
      "hybrid_search_p50_ms" -> "hybrid", "IndexStore.append_ms" -> "append",
      "IndexPipeline.search.after_append_ms" -> "search_after_append",
      "CurationPipeline.run_ms" -> "curate")
    // the serve workloads build once in set-up; ingest_curate builds per round
    val kind = kindP50.get(n).orElse(
      if (n == "IndexStore.build_ms" && lat.contains("build")) Some("build") else None)
    kind match {
      case Some(k) => lat.get(k).map(v => median(v.toSeq)).getOrElse(0.0)
      case None =>
        layer.get(n).map { v =>
          if (n.endsWith(".jobs") || n.endsWith("frames_added") || n.endsWith("read_fraction"))
            v.sum / v.size
          else median(v.toSeq)
        }.getOrElse(0.0)
    }
  }
}

object Bench {
  val CorpusDocs = 5000
  val SnapshotDocs = 500
  val WarmSnapshots = 2
  val K = 10
  val SliceDocs = 16
  val AppendIdBase = 1000000L
  val RecallQueries = 10
  val ChecksPerKind = 4
  // candidates kept past the k-th for ties at the top-k boundary
  val TiePool = 10
  val WarmSeconds = 2.5

  /** Seed-independent text of the probe document in append `a`. */
  def probeText(a: Int): String = s"appended probe document number $a"

  /** What is wrong with a request's result. */
  sealed trait Bad
  /** A wrong result: fails the request and the run. */
  final case class Wrong(msg: String) extends Bad
  /** The exact symptom of a known program fault: fails the request only. */
  final case class KnownFault(msg: String) extends Bad

  final case class TraceRec(rid: String, kind: String, tag: String, start: Double,
                            planEnd: Double, end: Double, planMs: Double, execMs: Double,
                            framesAdded: Int, vectorBytes: Long)

  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_geomean_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "vector_search_p50_ms" -> "ms", "bm25_search_p50_ms" -> "ms", "hybrid_search_p50_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.slot_busy_ratio" -> "ratio", "spark.gc_ms_per_op" -> "ms",
    "spark.input_mb_per_op" -> "MB", "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB",
    "IndexPipeline.search.plan_ms" -> "ms", "IndexPipeline.search.exec_ms" -> "ms",
    "IndexPipeline.search.jobs" -> "count", "IndexPipeline.search.read_fraction" -> "ratio",
    "IndexPipeline.search.recall_at_10" -> "ratio",
    "IndexPipeline.search.after_append_ms" -> "ms",
    "Search.bm25.plan_ms" -> "ms", "Search.bm25.exec_ms" -> "ms", "Search.bm25.jobs" -> "count",
    "Search.bm25.frames_added" -> "count",
    "Search.hybrid.plan_ms" -> "ms", "Search.hybrid.exec_ms" -> "ms", "Search.hybrid.jobs" -> "count",
    "Search.prewarm_ms" -> "ms", "Search.session_frames" -> "count",
    "IndexStore.build_ms" -> "ms", "IndexStore.append_ms" -> "ms", "IndexStore.append.jobs" -> "count",
    "IndexStore.data_files" -> "count", "IndexStore.bytes_per_vector" -> "B",
    "IndexStore.append_vectors_per_s" -> "1/s",
    "pipeline.build_docs_per_s" -> "docs/s",
    "CurationPipeline.run_ms" -> "ms", "pipeline.curate_docs_per_s" -> "docs/s",
    "Chunking.chunk_ms" -> "ms", "Embedder.embed_ms" -> "ms", "IvfModel.fit_ms" -> "ms",
    "TextOps.quality_ms" -> "ms", "TextOps.langid_ms" -> "ms",
    "Dedup.edges_ms" -> "ms", "Dedup.clusters_ms" -> "ms",
    "CurationPipeline.frames_added" -> "count",
    "self.plan.ms_per_op" -> "ms", "self.exec.ms_per_op" -> "ms",
    "self.spark.job.ms_per_op" -> "ms",
    "jvm.heap_after_gc_mb" -> "MB", "host.steal_pct" -> "%", "trace.overhead_pct" -> "%")

  /** Nearest-rank-interpolated quantile (numpy's default "linear"). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The aggregate CPU line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ... in clock ticks); empty where the
    * file does not exist.
    */
  def cpuTicks(): Array[Long] =
    try {
      val l = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")),
        java.nio.charset.StandardCharsets.US_ASCII).linesIterator.next()
      l.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case NonFatal(_) => Array.empty }

  /** The share of the CPU time this guest's busy CPUs wanted between two
    * samples that they actually ran: 1 − steal ÷ (busy + steal). On a
    * shared host the hypervisor hands a varying share of it to other
    * guests ("steal"); no code in this process can change that share.
    */
  def available(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 1.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val busy = d(0) + d(1) + d(2) + d(5) + d(6)
      if (busy + d(7) <= 0) 1.0 else 1.0 - d(7).toDouble / (busy + d(7))
    }

  /** Hits ordered by score desc, id asc on ties. */
  def sortedByScore(hits: Seq[(String, Double)]): Option[String] =
    if (hits.isEmpty) Some("no hits")
    else hits.zip(hits.drop(1)).collectFirst {
      case ((a, sa), (b, sb)) if sa < sb || (sa == sb && a > b) => s"out of order: ($a,$sa) before ($b,$sb)"
    }
}
