package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.app.{Main => SplitMain, OsmSplit, SplitterArgs}
import graft.assign.{LinkMembership, ProblemJoins, TileAssigner}
import graft.density.DensityJob
import graft.model.{InterleavedCorpus, LinkModel}
import graft.output.{AreaWriters, PolyWriters}
import graft.pipeline.SplitPipeline
import graft.sources.OsmFileSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a job: a catalog query or a whole pipeline run.
  * A failed operation has no latency. */
final case class Op(name: String, seconds: Double, ok: Boolean)

trait Workload {
  /** Untimed: writes the seeded inputs. */
  def prepare(): Unit
  /** Input entities, documents or table rows that one job reads. */
  def inputRows: Long
  /** One job; `first` is the cold job of the process. */
  def job(out: String, first: Boolean): Seq[Op]
  /** Untimed output check of a finished job; returns the errors. */
  def check(out: String): Seq[String]
  /** One job with a span around each layer call. */
  def traced(out: String, tr: Tracer): Unit
  /** Warm jobs a run makes at least, however short `--seconds`. */
  def minWarmJobs: Int = 2

  protected def forced(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  def digest(p: Path): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(Files.readAllBytes(p))
    md.digest().map("%02x".format(_)).mkString
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Lines of `metrics.jsonl`, the per-step record the pipelines write. */
  def metricLines(out: String): Seq[String] = {
    val p = Paths.get(out, "metrics.jsonl")
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq else Nil
  }

  private val Num = """"%s":(-?[0-9.]+)"""
  def field(line: String, key: String): Option[Double] =
    Num.format(key).r.findFirstMatchIn(line).map(_.group(1).toDouble)
}

/**
 * The corpus CLI (`app.Main.run`) over the interleaved parquet corpus
 * `(doc_id, spans)`. `stopAfter = "split"` is the areas-only first pass;
 * `"dist"` runs split, gen-problem-list, handle-problem-list and dist.
 * The seed shifts the synthesized id range, which moves every
 * coordinate (coordinates derive from ids).
 */
final class CorpusWorkload(spark: SparkSession, work: String, seed: Long,
    docs: Long, nodesPerTile: Long, stopAfter: String, partitions: Int) extends Workload {

  private val input = s"$work/input/corpus"
  // CoordSynthesis multiplies ids by 1103515245 in 64-bit ANSI
  // arithmetic, so a job over ids above Long.MaxValue / 1103515245
  // (about 8.36e9) throws ARITHMETIC_OVERFLOW; the seed picks one of the
  // 10^7-id windows below that limit
  private val offset = {
    val window = 10000000L
    Math.floorMod(seed, (Long.MaxValue / 1103515245L - docs) / window) * window
  }
  private var inputFp = 0L

  private def args(out: String) = SplitterArgs(maxNodes = docs / nodesPerTile,
    outputDir = out, stopAfter = stopAfter, inputs = Seq(input))

  def inputRows: Long = docs

  def prepare(): Unit = {
    InterleavedCorpus.synthesize(spark, docs, partitions, offset)
      .write.mode("overwrite").parquet(input)
    // the CLI writes numeric doc ids, so the reference print uses them too
    inputFp = InterleavedCorpus.corpusFingerprint(spark.read.parquet(input)
      .withColumn("doc_id", InterleavedCorpus.idOfDocId(col("doc_id"))))
  }

  def job(out: String, first: Boolean): Seq[Op] = {
    val t0 = System.nanoTime()
    val ok = try { SplitMain.run(spark, args(out)) == stopAfter }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    Seq(Op(stopAfter, (System.nanoTime() - t0) / 1e9, ok))
  }

  def check(out: String): Seq[String] = {
    val areas = AreaWriters.readAreasList(s"$out/areas.list")
    if (areas.isEmpty) return Seq("areas.list is empty")
    if (stopAfter == "split") {
      // counting each document in the first tile that holds it (tiles
      // share their edges), the per-tile counts sum to the document
      // count and no tile holds more than max-nodes documents
      val index = SplitPipeline.buildIndex(areas, args(out).toConfig)
      val counts = TileAssigner.withTileIds(spark,
          SplitPipeline.pointsOf(spark.read.parquet(input)), col("lat_mu"),
          col("lon_mu"), index, nearestFallback = false)
        .where(size(col("tile_ids")) > 0)
        .groupBy(array_min(col("tile_ids"))).count().collect().map(_.getLong(1))
      val errs = Seq.newBuilder[String]
      if (counts.sum != docs) errs += s"tile counts sum to ${counts.sum}, not $docs"
      if (counts.exists(_ > docs / nodesPerTile))
        errs += s"a tile holds ${counts.max} > ${docs / nodesPerTile} documents"
      errs.result()
    } else {
      val tiles = spark.read.parquet(s"$out/tiles")
      val fp = InterleavedCorpus.corpusFingerprint(
        tiles.select(col("doc_id"), col("spans")).distinct())
      val rows = tiles.count()
      Seq(
        if (fp != inputFp) Some(s"tile span fingerprint $fp != input $inputFp") else None,
        if (rows < docs) Some(s"tiles hold $rows rows < $docs documents") else None
      ).flatten
    }
  }

  def traced(out: String, tr: Tracer): Unit = {
    // the phases of app.Main.run, each bracketed around its public call
    val a = args(out)
    val cfg = a.toConfig
    Files.createDirectories(Paths.get(out))
    val points = SplitPipeline.pointsOf(spark.read.parquet(input))
      .withColumn("doc_id", InterleavedCorpus.idOfDocId(col("doc_id")))
    val bounds = tr.span("density.bbox")(DensityJob.bbox(points, col("lat_mu"), col("lon_mu")))
    val cfgB = cfg.copy(bounds = Some(bounds))
    val grid = tr.span("density.grid")(SplitPipeline.computeGrid(points, cfgB))
    var cells = 0L
    for (x <- 0 until grid.width; y <- 0 until grid.height)
      if (grid.cellCount(x, y) != 0) cells += 1
    tr.count("density.cells", cells.toDouble)
    val areas = tr.span("solver.solve")(SplitPipeline.solve(grid, cfg))
      .map(ad => ad.copy(name = a.description))
    tr.count("solver.tiles", areas.size.toDouble)
    AreaWriters.writeAreasList(s"$out/areas.list", areas)
    AreaWriters.writeTemplateArgs(s"$out/template.args", areas, a.output)
    PolyWriters.writePoly(s"$out/areas.poly", "area", areas.map(_.rect))
    if (stopAfter == "split") return

    val index = tr.span("index.build")(SplitPipeline.buildIndex(areas, cfg))
    tr.count("index.max_compares", index.maxCompares.toDouble)
    val assignment = TileAssigner.withTileIds(spark, points,
      col("lat_mu"), col("lon_mu"), index, cfg.nearestFallback)
    tr.span("assign.nodes")(forced(assignment))
    val links = points.select(LinkModel.linkIdCol().as("link_id")).distinct()
      .select(col("link_id"), LinkModel.memberIdsCol(col("link_id")).as("member_ids"))
    val problems = tr.span("assign.links") {
      LinkMembership.problemLinks(
        LinkMembership.linkTiles(links, assignment, salted = true)).localCheckpoint(true)
    }
    val nProblems = tr.span("output.problem_list")(
      AreaWriters.writeProblemListStreamed(s"$out/problem.list", problems))
    tr.count("assign.problem_frac", nProblems.toDouble / links.count())

    tr.span("assign.keep_complete") {
      val members = points.withColumn("link_id", LinkModel.linkIdCol())
        .join(problems, Seq("link_id"), "left_semi")
      val p1 = points.select(col("doc_id").as("id1"), col("lon_mu").as("x1"), col("lat_mu").as("y1"))
      val p2 = points.select(col("doc_id").as("id2"), col("lon_mu").as("x2"), col("lat_mu").as("y2"))
      val segments = p1.where(LinkModel.segmentStartCol("id1"))
        .join(p2, col("id2") === col("id1") + 1)
        .select(LinkModel.linkIdCol("id1").as("link_id"), col("x1"), col("y1"), col("x2"), col("y2"))
        .join(problems, Seq("link_id"), "left_semi")
      ProblemJoins.keepCompleteTiles(members, segments,
          areas.map(_.rect), areas.map(_.mapId.toLong))
        .write.mode("overwrite").parquet(s"$out/link_tiles.parquet")
    }
    val assigned = TileAssigner.explodeByTile(assignment, a.mapid)
    tr.span("assign.pairs")(forced(assigned))
    tr.span("output.tiles")(
      TileAssigner.writePartitioned(assigned, s"$out/tiles", a.handleElementVersion))
    tr.count("assign.fanout", assigned.count().toDouble / docs)
    tr.count("output.mb", Workload.bytesUnder(s"$out/tiles") / 1e6)
  }
}

/**
 * `OsmSplit.run` on a seeded synthetic planet: PBF in, one .o5m file
 * per tile out, keep-complete on.
 */
final class PlanetWorkload(spark: SparkSession, work: String, seed: Long,
    nodes: Int, cpus: Int) extends Workload {

  private val pbf = s"$work/input/planet.pbf"
  private var reference: Option[Map[String, String]] = None

  private def args(out: String) = SplitterArgs(maxNodes = math.max(nodes / 50L, 1000L),
    output = "o5m", outputDir = out, inputs = Seq(pbf))

  def inputRows: Long = Planet.entityCount(nodes)

  def prepare(): Unit = {
    Files.createDirectories(Paths.get(pbf).getParent)
    val bytes = Planet.writePbf(pbf, nodes, seed)
    // spread the single file over every core, as OsmBench does
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(bytes / (cpus * 2L), 1L << 20).toString)
  }

  def job(out: String, first: Boolean): Seq[Op] = {
    val t0 = System.nanoTime()
    val ok = try { OsmSplit.run(spark, args(out)) == "dist" }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    Seq(Op("dist", (System.nanoTime() - t0) / 1e9, ok))
  }

  /** Digests of areas.list, problem.list and every tile file. */
  private def digests(out: String): Map[String, String] = {
    val tiles = Option(new java.io.File(s"$out/tiles").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".o5m"))
    (Seq("areas.list", "problem.list").map(n => n -> Paths.get(out, n)) ++
      tiles.map(f => s"tiles/${f.getName}" -> f.toPath))
      .map { case (n, p) => n -> Workload.digest(p) }.toMap
  }

  def check(out: String): Seq[String] = {
    val d = digests(out)
    if (d.count(_._1.startsWith("tiles/")) < 2) return Seq("fewer than two tile files")
    reference match {
      case None => reference = Some(d); Nil
      case Some(ref) =>
        (ref.keySet ++ d.keySet).toSeq.sorted
          .filter(k => ref.get(k) != d.get(k)).map(k => s"$k differs from the first job's")
    }
  }

  def traced(out: String, tr: Tracer): Unit = {
    tr.span("sources.scan") {
      val ents = OsmFileSource.read(spark, pbf)
      tr.count("sources.partitions", ents.rdd.getNumPartitions.toDouble)
      ents.agg(sum(col("id")), sum(col("lat7").cast("long")),
        sum(col("lon7").cast("long")), sum(size(col("tags"))),
        sum(size(col("refs"))), sum(size(col("members"))),
        sum(col("version").cast("long"))).collect()
    }
    tr.count("sources.ents_per_s", inputRows / tr.values("sources.scan.wall_s"))
    OsmSplit.run(spark, args(out))
    // OsmSplit's steps are private: their wall times come from the
    // "timing" lines it writes to metrics.jsonl
    val steps = Map("node_assignment" -> "assign.nodes", "way_membership" -> "assign.links",
      "rel_closure" -> "assign.closure", "rel_membership" -> "assign.relations",
      "problem_list" -> "output.problem_list", "assign_pairs" -> "assign.pairs",
      "tile_sink" -> "output.tiles")
    val lines = Workload.metricLines(out)
    for (l <- lines if l.contains("\"timing\""); (step, span) <- steps
         if l.contains("\"step\":\"" + step + "\""))
      tr.wallOnly(span, Workload.field(l, "sec").getOrElse(0d))
    val areas = AreaWriters.readAreasList(s"$out/areas.list")
    val index = tr.span("index.build")(SplitPipeline.buildIndex(areas, args(out).toConfig))
    tr.count("index.max_compares", index.maxCompares.toDouble)
    tr.count("solver.tiles", areas.size.toDouble)
    val problems = lines.filter(_.contains("\"gen-problem-list\""))
      .flatMap(Workload.field(_, "problems")).sum
    tr.count("assign.problem_frac", problems / (nodes / 10 + nodes / 100))
    val pairs = lines.filter(_.contains("\"dist_pairs\"")).flatMap(Workload.field(_, "rows")).sum
    tr.count("assign.fanout", pairs / inputRows)
    tr.count("output.mb", Workload.bytesUnder(s"$out/tiles") / 1e6)
  }
}

/**
 * Queries of the catalog (`SparkEntry.queries`) over seeded test tables.
 * The cold pass writes every result as parquet for the DuckDB oracle
 * check; warm passes send every output column to Spark's `noop` sink.
 */
final class CatalogWorkload(spark: SparkSession, dataDir: String,
    rows: Long, injectFailure: Boolean) extends Workload {

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = CatalogWorkload.Queries.map(n => n -> graft.SparkEntry.queries(n))
    val failing: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).select(raise_error(lit("injected failure")).as("x"))
    if (injectFailure) qs :+ ("q_injected_failure" -> failing) else qs
  }

  def inputRows: Long = rows
  def prepare(): Unit = ()
  // a pass is short and its first warm repeat still compiles
  override def minWarmJobs: Int = 3

  /** Oracle SQL of every query in the pass. */
  def oracles: Json = Json.obj(queries.flatMap { case (name, _) =>
    graft.SparkEntry.oracleSql.get(name).map(sql => name -> Json.str(sql)) }: _*)

  def job(out: String, first: Boolean): Seq[Op] = queries.map { case (name, q) =>
    val t0 = System.nanoTime()
    val ok = try {
      val df = q(spark, dataDir)
      if (first) df.write.mode("overwrite").parquet(s"$out/$name") else forced(df)
      true
    } catch { case NonFatal(e) => System.err.println(s"$name failed: $e"); false }
    Op(name, (System.nanoTime() - t0) / 1e9, ok)
  }

  /** The oracle comparison needs DuckDB; it runs after the JVM exits. */
  def check(out: String): Seq[String] = Nil

  def traced(out: String, tr: Tracer): Unit = queries.foreach { case (name, q) =>
    try tr.timed(s"query.${name}_s")(forced(q(spark, dataDir)))
    catch { case NonFatal(e) => System.err.println(s"$name failed: $e") }
  }
}

object CatalogWorkload {
  /** The timed queries, a fixed subset of the catalog that keeps a run
    * under a minute: the `functions` kernels, the `ops` text,
    * dedup, sampling and media operators, the geospatial forms including
    * the relation closure, and two relational forms. Each took under
    * 0.31 s warm at 4 cores, q_closure 0.68 s. */
  val Queries: Seq[String] = Seq(
    // functions kernels: gram/MD5 hashing, simhash, nearest index, dot, H3
    "q_fingerprint", "q_minhash", "q_simhash", "q_ivf_assign", "q_cosine_topk",
    "q_h3_density",
    // ops: text analysis, dedup, sampling, multimodal
    "q_quality", "q_langid", "q_token_count", "q_vocab", "q_dedup_exact",
    "q_percentile", "q_media_extract",
    // geospatial
    "q_coords", "q_density", "q_bbox", "q_split_position", "q_closure",
    // relational
    "q1_agg", "q_sessions")
}
