package mapbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.YearRange
import graft.operators.{MapBuild, OccurrenceView, TileServe}
import graft.sources.{KeyedSink, Workflow}

/** Benchmark JVM: runs one workload against the program's public functions
  * and writes `result.json` (plus the dumps the DuckDB checks read) into the
  * run root. `run.py` generates the inputs, starts this main, checks the
  * dumps and prints the result line.
  *
  * Usage: mapbench.Main <workload> <seed> <seconds> <trace 0|1> <runRoot>
  *          <dataDir> <taskSlots> <serveClients> <maxZoom> <batches>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, data: String, slots: Int, clients: Int, maxZoom: Int, batches: Int)

  val Projections = Seq("EPSG:4326")
  val DedupQueries = Seq("q47_dup_clusters", "q93_edit_verify", "q117_triangles",
    "q146_triangles_degree", "q158_kcore")

  /** One timed benchmark operation: a store build, an ingest batch, or one
    * pass over the dedup queries. */
  final case class Op(id: String, kind: String, startNs: Long, endNs: Long, ok: Boolean) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)), argv(5), argv(6).toInt, argv(7).toInt, argv(8).toInt, argv(9).toInt)
    val spark = SparkSession.builder()
      .master(s"local[${a.slots}]")
      .appName(s"mapbench-${a.workload}")
      // the program's bench session settings (graft.Bench), sized to the slots
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, a, listener, new Tracer(a.trace, System.nanoTime()), jvmStart)
    val code =
      try { run.execute(); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          run.fatal(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          3
      }
    spark.stop()
    sys.exit(code)
  }
}

final class Run(spark: SparkSession, a: Main.Args, listener: LayerListener,
    tracer: Tracer, jvmStartMs: Long) {
  import Main._
  private val sc = spark.sparkContext
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  private val failed = new java.util.concurrent.atomic.AtomicLong(0)
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var setupS = 0.0
  private var timedStart = 0L
  private var peakTmp = 0L
  private val checkDir = a.root.resolve("check")
  private val store = a.root.resolve("store").toString

  def fatal(msg: String): Unit = {
    errors.add(msg)
    writeResult()
  }

  def execute(): Unit = {
    Files.createDirectories(checkDir)
    a.workload match {
      case "store_build" => storeBuild()
      case "ingest_serve" => ingestServe()
      case "dedup_graph" => dedupGraph()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    writeResult()
  }

  // ------------------------------------------------------------ helpers

  private def startTimed(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    timedStart = System.nanoTime()
  }
  private def elapsedS = (System.nanoTime() - timedStart) / 1e9

  /** Runs `f` as one operation: the Spark jobs it submits carry the op id,
    * kind and query, so the listener attributes their stages. */
  private def op[A](id: String, kind: String, query: String = "", timed: Boolean = true)
      (f: => A): Option[A] = {
    sc.setLocalProperty("mapbench.op", id)
    sc.setLocalProperty("mapbench.kind", kind)
    sc.setLocalProperty("mapbench.query", query)
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(if (query.nonEmpty) query else kind, id)(_ => f))
      catch {
        case e: Exception =>
          failed.incrementAndGet()
          errors.add(s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    val t1 = System.nanoTime()
    Seq("mapbench.op", "mapbench.kind", "mapbench.query").foreach(sc.setLocalProperty(_, null))
    if (timed) ops += Op(id, kind, t0, t1, r.isDefined)
    notePeak()
    r
  }

  private def notePeak(): Unit = peakTmp = math.max(peakTmp, treeBytes(a.root))

  /** Bytes under `p`. Spark deletes shuffle and temp files while the walk
    * runs, so a file or directory that vanishes mid-walk is skipped. */
  private def treeBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, at: BasicFileAttributes): FileVisitResult = {
        if (at.isRegularFile) total += at.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    }

  private def noCoalesce = MapBuild.noCoalesceSession(spark)

  private def lineitem(s: SparkSession): DataFrame = OccurrenceView.lineitem(s, a.data)

  /** The held-out slice the ingest batches apply, as q111 holds out
    * `l_orderkey % 10 = 0`; which tenth is held out follows the seed. */
  private def heldOut = expr(s"pmod(l_orderkey * 7919 + ${a.seed}, 10) = 0")

  // ------------------------------------------------------------ store_build

  private def storeBuild(): Unit = {
    val s2 = noCoalesce
    val occ = OccurrenceView.occFrom(lineitem(s2))
    startTimed()
    var i = 0
    while (i == 0 || elapsedS < a.seconds) {
      val dir = s"$store-$i"
      op(s"build$i", "build")(Workflow.buildFrom(s2, occ, dir, Projections, a.maxZoom))
      // later copies only add timing samples; the first one is checked
      if (i > 0) deleteTree(Paths.get(dir))
      i += 1
    }
    layerMetrics()
    if (a.trace) storeFiles(Paths.get(s"$store-0"), None)
    dumpStore(s"$store-0")
  }

  // ------------------------------------------------------------ ingest_serve

  private def ingestServe(): Unit = {
    val s2 = noCoalesce
    val li = lineitem(s2)
    op("setup-build", "build", timed = false)(
      Workflow.buildFrom(s2, OccurrenceView.occFrom(li.filter(!heldOut)), store,
        Projections, a.maxZoom))
      .getOrElse(throw new IllegalStateException("base store build failed"))
    val catalog = new Catalog(spark, store)
    startTimed()
    val warm = new ServePhase("warm", catalog)
    warm.runFor(a.seconds)
    val under = new ServePhase("ingest", catalog)
    under.start()
    val versionsBefore = Workflow.readManifest(store).get.version
    (0 until a.batches).foreach { b =>
      val delta = li.filter(heldOut && expr(s"pmod(l_orderkey, ${a.batches}) = $b"))
      op(s"batch$b", "ingest")(
        Workflow.incrementalUpdate(s2, OccurrenceView.occFrom(delta), store,
          Projections, a.maxZoom))
    }
    under.stop()
    layerMetrics()
    val m = Workflow.readManifest(store).get
    layers("workflow.swaps") = (m.version - versionsBefore).toDouble
    Seq(warm, under).foreach(_.report())
    if (a.trace) (1L to m.version).foreach { v =>
      storeFiles(Paths.get(store, s"v$v"), Some(Paths.get(store, s"v${v - 1}")).filter(_ => v > 1))
    }
    dumpStore(store)
    dumpServeSample(catalog)
  }

  /** Store addresses the request generator draws from, read once after the
    * base build: every (view, zoom, tile) in the tile store and the views
    * the points-blob store holds. */
  final class Catalog(spark: SparkSession, store: String) {
    private val m = Workflow.readManifest(store).get
    val tiles: Map[(String, Int), IndexedSeq[(Long, Long)]] =
      spark.read.parquet(s"${m.tiles}/srs=EPSG_4326").select("map_key", "z", "tx", "ty")
        .distinct().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.map(t => (t._3, t._4)).toIndexedSeq.sorted }
    val smallViews: IndexedSeq[String] =
      spark.read.parquet(s"${m.points}_blobs").select("map_key").distinct()
        .collect().map(_.getString(0)).sorted.toIndexedSeq
    /** Views by popularity: the all-records view first, the rest in a
      * seeded order. */
    val views: IndexedSeq[String] = {
      val rest = tiles.keys.map(_._1).toSeq.distinct.filter(_ != "0:0").sorted
      "0:0" +: new scala.util.Random(a.seed).shuffle(rest).toIndexedSeq
    }
    private val zipfCdf: Array[Double] = {
      val w = views.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipfView(r: scala.util.Random): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(zipfCdf, u)
      views(math.min(views.size - 1, if (i >= 0) i else -i - 1))
    }
  }

  sealed trait Req { def key: String }
  final case class TileReq(view: String, z: Int, x: Long, y: Long, years: YearRange,
      bors: Seq[Int]) extends Req {
    def key = s"t|$view|$z|$x|$y|$years|${bors.mkString(",")}"
  }
  final case class PointReq(view: String, years: YearRange, bors: Seq[Int]) extends Req {
    def key = s"p|$view|$years|${bors.mkString(",")}"
  }

  /** Seeded request mix: Zipf views, zooms 0..maxZoom, addresses from the
    * store with a tenth absent, varied year ranges and basis-of-record sets;
    * one request in six asks a small view's point blob. */
  private def nextReq(c: Catalog, r: scala.util.Random): Req = {
    val years =
      if (r.nextDouble() < 0.5) YearRange.Unbounded
      else {
        val lo = 1992 + r.nextInt(25); val hi = lo + r.nextInt(2017 - lo)
        if (r.nextDouble() < 0.2) YearRange(Some(lo), None) else YearRange(Some(lo), Some(hi))
      }
    val bors = if (r.nextDouble() < 0.6) Nil else (0 to 2).filter(_ => r.nextBoolean())
    if (r.nextDouble() < 1.0 / 6 && c.smallViews.nonEmpty)
      PointReq(c.smallViews(r.nextInt(c.smallViews.size)), years, bors)
    else {
      val view = c.zipfView(r)
      val z = r.nextInt(a.maxZoom + 1)
      val addrs = c.tiles.getOrElse((view, z), IndexedSeq.empty)
      if (addrs.isEmpty || r.nextDouble() < 0.1)
        TileReq(view, z, (2L << z) + r.nextInt(4), r.nextInt(1 << z).toLong, years, bors)
      else {
        val (x, y) = addrs(r.nextInt(addrs.size))
        TileReq(view, z, x, y, years, bors)
      }
    }
  }

  /** Result total of one response: tiles give (px, py, total), points give
    * (lat10, lng10, borYear, count). */
  private def serve(req: Req, reqId: String): (Long, Int) = req match {
    case t: TileReq =>
      val out =
        if (!tracer.enabled)
          TileServe.serveTile(spark, store, "EPSG:4326", t.view, t.z, t.x, t.y, t.years, t.bors)
        else tracedTile(t, reqId)
      (out.map(_._3).sum, out.size)
    case p: PointReq =>
      val out =
        if (!tracer.enabled) TileServe.servePoints(spark, store, p.view, p.years, p.bors)
        else tracedPoints(p, reqId)
      (out.map(_._4).sum, out.size)
  }

  private val featuresDecoded = new java.util.concurrent.atomic.AtomicLong(0)
  private val countDecoded = new java.util.concurrent.atomic.AtomicLong(0)
  private val countKept = new java.util.concurrent.atomic.AtomicLong(0)
  private val getsEmpty = new java.util.concurrent.atomic.AtomicLong(0)
  private val tracedMismatch = new java.util.concurrent.atomic.AtomicLong(0)

  /** serveTile's chain called step by step (manifest, GET, decode+filter),
    * then serveTile itself; the two must agree while the version holds. */
  private def tracedTile(t: TileReq, reqId: String): Seq[(Int, Int, Long)] =
    tracer.span("serve.tile", reqId) { sid =>
      val m = tracer.span("Workflow.readManifest", reqId, sid)(_ => Workflow.readManifest(store).get)
      val zoomDir = s"${m.tiles}/srs=EPSG_4326/zoom=${t.z}"
      val key = s"EPSG:4326:${t.view}:${t.z}:${t.x}:${t.y}"
      val rows = tracer.span("KeyedSink.lookupDirect", reqId, sid)(_ =>
        KeyedSink.lookupDirect(zoomDir, Workflow.TileSaltModulus, key))
      val blobs = rows.map(_.getAs[Array[Byte]]("mvt"))
      val parts = tracer.span("TileServe.tileFilterAggregate", reqId, sid)(_ =>
        TileServe.tileFilterAggregate(blobs, t.years, t.bors))
      val full = tracer.span("TileServe.serveTile", reqId, sid)(_ =>
        TileServe.serveTile(spark, store, "EPSG:4326", t.view, t.z, t.x, t.y, t.years, t.bors))
      if (blobs.isEmpty) getsEmpty.incrementAndGet()
      blobs.foreach { b =>
        val fs = graft.functions.Mvt.decodeTile(b)
        featuresDecoded.addAndGet(fs.size)
        countDecoded.addAndGet(fs.map(_.yearCounts.map(_._2).sum).sum)
      }
      countKept.addAndGet(parts.map(_._3).sum)
      if (parts != full && Workflow.readManifest(store).get.version == m.version)
        tracedMismatch.incrementAndGet()
      full
    }

  private def tracedPoints(p: PointReq, reqId: String): Seq[(Long, Long, Long, Long)] =
    tracer.span("serve.points", reqId) { sid =>
      val m = tracer.span("Workflow.readManifest", reqId, sid)(_ => Workflow.readManifest(store).get)
      val rows = tracer.span("KeyedSink.lookupDirect", reqId, sid)(_ =>
        KeyedSink.lookupDirect(s"${m.points}_blobs", Workflow.PointSaltModulus, p.view))
      val parts = tracer.span("TileServe.pointsFilterDecode", reqId, sid)(_ =>
        TileServe.pointsFilterDecode(rows.map(_.getAs[Array[Byte]]("blob")), p.years, p.bors))
      val full = tracer.span("TileServe.servePoints", reqId, sid)(_ =>
        TileServe.servePoints(spark, store, p.view, p.years, p.bors))
      if (rows.isEmpty) getsEmpty.incrementAndGet()
      if (parts != full && Workflow.readManifest(store).get.version == m.version)
        tracedMismatch.incrementAndGet()
      full
    }

  /** Closed-loop serve clients: each thread issues its own seeded request
    * stream back to back. A thread's requests are sequential, so each reads
    * a manifest at least as new as its previous one: a re-requested tile
    * total, or a non-empty points total, must never shrink. */
  final class ServePhase(name: String, catalog: Catalog) {
    @volatile private var running = true
    private val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    private val shrunk = new java.util.concurrent.atomic.AtomicLong(0)
    private var t0 = 0L
    private var t1 = 0L
    private val threads = (0 until a.clients).map { c =>
      new Thread(s"serve-$name-$c") {
        override def run(): Unit = {
          val r = new scala.util.Random(a.seed * 1000003L + c * 7919L + name.hashCode)
          val last = mutable.HashMap.empty[String, Long]
          var n = 0
          while (running) {
            val req = nextReq(catalog, r)
            attempted.incrementAndGet()
            val s = System.nanoTime()
            try {
              val (total, rows) = serve(req, s"$name-$c-$n")
              lat.add(System.nanoTime() - s)
              // a view whose record count reaches the points threshold
              // leaves the blob store (tiles serve it from then on), so an
              // empty points response is not a shrunk total
              val kept = req.isInstanceOf[TileReq] || rows > 0
              if (kept && last.get(req.key).exists(_ > total)) shrunk.incrementAndGet()
              if (kept) last(req.key) = total
            } catch {
              case e: Exception =>
                failed.incrementAndGet()
                errors.add(s"serve ${req.key}: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
            n += 1
          }
        }
      }
    }
    def start(): Unit = { t0 = System.nanoTime(); threads.foreach(_.start()) }
    def stop(): Unit = { running = false; threads.foreach(_.join()); t1 = System.nanoTime() }
    /** Serves for `seconds`, then on until 1,000 requests have completed,
      * so that the p99 has ten samples beyond it. */
    def runFor(seconds: Double): Unit = {
      start()
      Thread.sleep((seconds * 1000).toLong)
      val deadline = System.nanoTime() + 30000000000L
      while (lat.size < 1000 && System.nanoTime() < deadline) Thread.sleep(10)
      stop()
    }
    def report(): Unit = {
      val ms = lat.asScala.map(_.longValue / 1e6).toArray.sorted
      layers(s"serve.${name}_p50_ms") = Stats.q(ms, 0.5)
      layers(s"serve.${name}_p99_ms") = Stats.q(ms, 0.99)
      layers(s"serve.${name}_rps") = ms.length / ((t1 - t0) / 1e9)
      layers(s"serve.${name}_requests") = ms.length
      if (shrunk.get > 0) errors.add(s"serve $name: ${shrunk.get} re-requested totals shrank across swaps")
    }
  }

  // ------------------------------------------------------------ dedup_graph

  private def dedupGraph(): Unit = {
    spark.sparkContext.setCheckpointDir(a.root.resolve("checkpoint").toString)
    startTimed()
    var pass = 0
    val kept = mutable.LinkedHashMap.empty[String, DataFrame]
    while (pass == 0 || elapsedS < a.seconds) {
      val t0 = System.nanoTime()
      var ok = true
      DedupQueries.foreach { q =>
        val r = op(s"p$pass-$q", "dedup", q, timed = false) {
          val df = graft.SparkEntry.queries(q)(spark, a.data)
          // the first pass keeps its results cached for the oracle check
          if (pass == 0) df.persist()
          df.write.format("noop").mode("overwrite").save()
          df
        }
        r.foreach(df => if (pass == 0) kept(q) = df)
        ok &&= r.isDefined
        if (pass > 0) spark.catalog.clearCache()
      }
      ops += Op(s"p$pass", "dedup", t0, System.nanoTime(), ok)
      pass += 1
    }
    layerMetrics()
    kept.foreach { case (q, df) =>
      df.write.mode("overwrite").parquet(checkDir.resolve(q).toString)
    }
    spark.catalog.clearCache()
    writeOracle(DedupQueries)
  }

  // ------------------------------------------------------------ metrics

  /** Per-op end-to-end figures, and per-layer figures over the set-up plus
    * one timed operation. */
  private def layerMetrics(): Unit = {
    listener.settle()
    val all = listener.stages
    val timedIds = ops.map(_.id).toSet
    def inOp(s: StageRec) = timedIds(s.op) || timedIds(s.op.takeWhile(_ != '-'))
    val st = all.filter(inOp)
    val setup = all.filter(_.op.startsWith("setup"))
    val n = math.max(1, ops.size).toDouble
    // layer figures cover the set-up's Spark work plus one timed operation:
    // the scope of the end-to-end cpu_s and shuffle_mb
    def byLayer(l: String) = (setup ++ st).filter(_.layer == l)
    def sum(ss: Seq[StageRec])(f: StageRec => Double) =
      ss.filterNot(inOp).map(f).sum + ss.filter(inOp).map(f).sum / n
    def cpu(ss: Seq[StageRec]) = sum(ss)(_.cpuNs / 1e9)
    def wall(ss: Seq[StageRec]) = sum(ss)(_.wallMs / 1e3)
    def mb(ss: Seq[StageRec])(f: StageRec => Long) = sum(ss)(f(_) / 1e6)
    def skew(ss: Seq[StageRec]) = {
      val r = ss.filter(_.taskMs.length > 1).map { s =>
        val d = s.taskMs.sorted.map(_.toDouble); d.last / math.max(1.0, Stats.q(d, 0.5))
      }
      if (r.isEmpty) 0.0 else r.max
    }
    val occ = byLayer("occ")
    layers("occ.snapshot_s") = wall(occ)
    layers("occ.rows") = sum(occ)(_.recordsIn.toDouble)
    val mb0 = byLayer("mapbuild")
    layers("mapbuild.wall_s") = wall(mb0)
    layers("mapbuild.cpu_s") = cpu(mb0)
    layers("mapbuild.shuffle_mb") = mb(mb0)(_.shuffleWrite)
    layers("mapbuild.spill_mb") = mb(mb0)(_.spill)
    layers("mapbuild.tasks") = sum(mb0)(_.tasks.toDouble)
    layers("mapbuild.task_max_over_p50") = skew(mb0)
    val te = byLayer("tileencode")
    layers("tileencode.wall_s") = wall(te)
    layers("tileencode.cpu_s") = cpu(te)
    val ks = byLayer("keyedsink")
    layers("tileencode.tiles") = sum(ks.filter(_.target == "tiles"))(_.recordsOut.toDouble)
    val pe = byLayer("pointencode")
    layers("pointencode.cpu_s") = cpu(pe)
    layers("pointencode.blobs") = sum(ks.filter(_.target == "blobs"))(_.recordsOut.toDouble)
    layers("keyedsink.write_s") = wall(ks)
    layers("keyedsink.write_cpu_s") = cpu(ks)
    layers("keyedsink.write_mb") = mb(ks)(_.bytesOut)
    // operation wall not covered by any Spark stage: planning, job
    // submission, and driver-side work such as the incremental path's
    // clean-partition file copies and manifest IO
    layers("op.driver_s") = ops.map { o =>
      val iv = all.filter(s => s.op == o.id || s.op.startsWith(o.id + "-"))
        .map(s => (s.startMs, s.endMs)).sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      iv.foreach { case (b, e) =>
        val b2 = math.max(b, cur)
        if (e > b2) { covered += e - b2; cur = e }
      }
      math.max(0.0, o.wallS - covered / 1e3)
    }.sum / n
    val dd = byLayer("dedup")
    DedupQueries.foreach { q =>
      val qs = dd.filter(_.query == q)
      layers(s"dedup.$q.wall_s") = wall(qs)
      layers(s"dedup.$q.cpu_s") = cpu(qs)
      layers(s"dedup.$q.shuffle_mb") = mb(qs)(_.shuffleWrite)
    }
    val opWall = ops.map(_.wallS).sum / n
    layers("dedup.idle_core_s") =
      if (dd.isEmpty) 0.0 else math.max(0.0, opWall * a.slots - cpu(dd))
    layers("spark.jobs") = setup.map(_.job).distinct.size + st.map(_.job).distinct.size / n
    layers("spark.tasks") = sum(setup ++ st)(_.tasks.toDouble)
    layers("spark.idle_core_s") = math.max(0.0, opWall * a.slots - st.map(_.cpuNs).sum / 1e9 / n)
    layers("spark.cpu_s") = cpu(setup ++ st)
    layers("spark.shuffle_read_mb") = mb(setup ++ st)(_.shuffleRead)
    // tracer-derived serve-path layers (0 without tracing or serving)
    def p(name: String, q: Double) = Stats.q(tracer.named(name).map(_.ms).toArray.sorted, q)
    val gets = tracer.named("KeyedSink.lookupDirect")
    layers("keyedsink.get_p50_ms") = p("KeyedSink.lookupDirect", 0.5)
    layers("keyedsink.get_p99_ms") = p("KeyedSink.lookupDirect", 0.99)
    layers("keyedsink.gets") = gets.size
    layers("keyedsink.empty_ratio") = if (gets.isEmpty) 0.0 else getsEmpty.get.toDouble / gets.size
    layers("workflow.manifest_read_p50_ms") = p("Workflow.readManifest", 0.5)
    layers("tileserve.decode_filter_p50_ms") = p("TileServe.tileFilterAggregate", 0.5)
    val tileReqs = tracer.named("serve.tile").size
    layers("tileserve.features_decoded") =
      if (tileReqs == 0) 0.0 else featuresDecoded.get.toDouble / tileReqs
    layers("tileserve.kept_ratio") =
      if (countDecoded.get == 0) 0.0 else countKept.get.toDouble / countDecoded.get
    if (tracedMismatch.get > 0)
      errors.add(s"${tracedMismatch.get} traced serves differ from serveTile/servePoints")
    setupCpuS = setup.map(_.cpuNs).sum / 1e9
    setupShuffleMb = setup.map(_.shuffleWrite).sum / 1e6
    // per-op end-to-end figures
    opFigures = ops.map { o =>
      val ss = all.filter(s => s.op == o.id || s.op.startsWith(o.id + "-"))
      (o, ss.map(_.cpuNs).sum / 1e9, ss.map(_.shuffleWrite).sum / 1e6)
    }.toSeq
  }
  private var opFigures: Seq[(Op, Double, Double)] = Nil
  private var setupCpuS = 0.0
  private var setupShuffleMb = 0.0

  /** Adds one store version's parquet files to `keyedsink.files`, and to
    * `workflow.copy_mb` the state it carried over from the previous version
    * under the same file names. */
  private def storeFiles(ver: Path, prev: Option[Path]): Unit = {
    val fs = files(ver).filter(_.getFileName.toString.endsWith(".parquet"))
    layers("keyedsink.files") = layers.getOrElse("keyedsink.files", 0.0) + fs.size
    val copied = prev.map { pv =>
      fs.filter(_.toString.contains("/state/")).filter { f =>
        Files.exists(pv.resolve(ver.relativize(f)))
      }.map(Files.size).sum
    }.getOrElse(0L)
    layers("workflow.copy_mb") = layers.getOrElse("workflow.copy_mb", 0.0) + copied / 1e6
  }

  // ------------------------------------------------------------ check dumps

  /** Every tile of the store's current version, decoded: (view, z, tx, ty,
    * pixel count, total); and every view's point-blob total via servePoints. */
  private def dumpStore(dir: String): Unit = {
    val m = Workflow.readManifest(dir).get
    val tiles = spark.read.parquet(s"${m.tiles}/srs=EPSG_4326")
      .select("map_key", "z", "tx", "ty", "mvt").collect()
    val sb = new StringBuilder("map_key,z,tx,ty,n_pixels,total,n_rows\n")
    tiles.groupBy(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .foreach { case ((k, z, x, y), rs) =>
        val fs = rs.flatMap(r => graft.functions.Mvt.decodeTile(r.getAs[Array[Byte]](4)))
        val px = fs.map(f => (f.x, f.y)).distinct.size
        val tot = fs.map(_.yearCounts.map(_._2).sum).sum
        sb ++= s"$k,$z,$x,$y,$px,$tot,${rs.length}\n"
      }
    Files.write(checkDir.resolve("tiles.csv"), sb.toString.getBytes("UTF-8"))
    val views = tiles.map(_.getString(0)).distinct.sorted
    val pb = new StringBuilder("map_key,total,n_rows\n")
    views.foreach { v =>
      val pts = TileServe.servePoints(spark, dir, v, YearRange.Unbounded, Nil)
      pb ++= s"$v,${pts.map(_._4).sum},${pts.size}\n"
    }
    Files.write(checkDir.resolve("blobs.csv"), pb.toString.getBytes("UTF-8"))
    Files.write(checkDir.resolve("manifest.txt"),
      s"${m.version}\n${m.points}\n${m.tiles}\n${OccurrenceView.Threshold}\n".getBytes("UTF-8"))
    writeOracle(Seq("q45_pyramid"))
  }

  /** A seeded sample of tile responses from the final version, for the
    * per-pixel DuckDB check. */
  private def dumpServeSample(c: Catalog): Unit = {
    val r = new scala.util.Random(a.seed ^ 0x5eedL)
    val sb = new StringBuilder
    var n = 0
    while (n < 40) nextReq(c, r) match {
      case t: TileReq =>
        val out = TileServe.serveTile(spark, store, "EPSG:4326", t.view, t.z, t.x, t.y,
          t.years, t.bors)
        val yr = s"""[${t.years.lo.getOrElse(-1)},${t.years.hi.getOrElse(-1)}]"""
        sb ++= s"""{"view":${Json.str(t.view)},"z":${t.z},"x":${t.x},"y":${t.y},"years":$yr,"bors":${t.bors.mkString("[", ",", "]")},"pixels":${out.map(p => s"[${p._1},${p._2},${p._3}]").mkString("[", ",", "]")}}""" + "\n"
        n += 1
      case _ =>
    }
    Files.write(checkDir.resolve("serve_sample.jsonl"), sb.toString.getBytes("UTF-8"))
  }

  private def writeOracle(names: Seq[String]): Unit =
    Files.write(checkDir.resolve("oracle_sql.json"),
      Json.obj(names.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))).getBytes("UTF-8"))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      }

  private def writeResult(): Unit = {
    notePeak()
    layers("run.peak_tmp_mb") = peakTmp / 1e6
    val opsJson = opFigures.map { case (o, c, s) =>
      Json.obj(Seq("id" -> Json.str(o.id), "kind" -> Json.str(o.kind),
        "wall_s" -> Json.num(o.wallS), "cpu_s" -> Json.num(c), "shuffle_mb" -> Json.num(s),
        "ok" -> o.ok.toString))
    }.mkString("[", ",", "]")
    val body = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "setup_shuffle_mb" -> Json.num(setupShuffleMb),
      "attempted" -> attempted.get.toString,
      "failed" -> failed.get.toString,
      "ops" -> opsJson,
      "errors" -> errors.asScala.toSeq.take(20).map(Json.str).mkString("[", ",", "]"),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.write(a.root.resolve("result.json"), body.getBytes("UTF-8"))
    if (tracer.enabled) tracer.writeJsonl(a.root.resolve("spans.jsonl"))
  }
}

object Stats {
  /** Nearest-rank quantile of a sorted array (0 when empty). */
  def q(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))
}
