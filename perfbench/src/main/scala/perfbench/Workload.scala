package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{GraphOps, Incremental, Materialize, Similarity}
import graft.parser.Chunker
import graft.search.BatchRetrieval
import graft.sources.Indexes
import graft.streaming.Streams

/** Inputs a workload generates beyond the shared tables (queries, op
  * sequences, file edits), hashed for the determinism test.
  */
trait WorkloadInputs {
  def digestInto(md: MessageDigest): Unit
  def size: Long
}

object Workload {
  val Names: Seq[String] = Seq("build", "mixed_ops", "watch")

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
            tracer: Tracer, codeIndex: String): Workload = name match {
    case "build" => new BuildWorkload(spark, seed, work, tracer)
    case "mixed_ops" => new MixedWorkload(spark, seed, work, tracer, codeIndex)
    case "watch" => new WatchWorkload(spark, seed, work, tracer)
    case other => sys.error(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  def inputsOnly(name: String, seed: Long): WorkloadInputs = name match {
    case "build" => new WorkloadInputs {
      def digestInto(md: MessageDigest): Unit = ()
      def size = 0L
    }
    case "mixed_ops" => MixedWorkload.inputs(seed, MixedWorkload.DigestRounds)
    case "watch" => WatchWorkload.inputs(seed, WatchWorkload.DigestBatches)
    case other => sys.error(s"unknown workload $other")
  }

  /** Build-phase name → layer, following the module that does the work. */
  def layerOf(phase: String): String = phase match {
    case "code_files" | "chunks" | "call_edges" | "type_edges" | "nl_describe" => "parser"
    case "postings" | "code_postings" | "code_posting_norms" => "postings"
    case p if p.startsWith("hp_") => "postings"
    case "copurchase_edges" | "degrees" | "edges_outdeg" | "oriented_edges" |
         "triangle_counts" | "resolved_calls" | "resolved_edges" => "graph"
    case "ivf_centroids" | "ivf_assigned" => "similarity"
    case "sparse_encode" => "encode"
    case _ => "dedup" // winnow_*, neardup_pairs, simhash_sigs, *grams8, span*, *_kmv
  }

  /** The code-index phases `mixed_ops` reads, in build order. They
    * depend on the fixture corpus and the replica count only, not on
    * the seed.
    */
  val CodeIndexPhases: Seq[String] = Seq("code_files", "chunks", "call_edges", "type_edges",
    "code_postings", "resolved_calls", "resolved_edges",
    "code_posting_norms", "hp_body_postings", "hp_name_postings", "hp_doc_postings",
    "hp_dl", "hp_idf", "hp_parents", "hp_meta")

  /** Write the code index once per build of the benchmark (the launcher
    * calls this after packaging); `mixed_ops` copies it at set-up. The
    * `build` workload times the same phases on every run.
    */
  def writeCodeIndex(spark: SparkSession, out: String): Unit = {
    // the code phases read no table, so the table directory is unused
    val phases = Indexes.buildPhases(spark, out, out, Scale.CodeReplicas).toMap
    CodeIndexPhases.foreach(n => phases(n)().write.mode("overwrite").parquet(s"$out/$n.parquet"))
  }

  def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

/** One workload: set-up, one operation of its closed loop, and the
  * output checks. `op` returns the operation's type and the number of
  * items it handled.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
                        val tracer: Tracer) {
  val tablesDir = s"$work/tables"
  val ixDir = s"$work/index"
  var tables: Tables = _

  def setupReps: Int = if (tracer.enabled) 1 else 3
  def setup(): Unit
  /** Untimed preparation after set-up (in-process check references). */
  def prepare(): Unit = ()
  /** Untimed, untraced operations run before the measured ones, so the
    * measured ones do not pay first-call JIT and code-generation costs.
    */
  def warmUp(out: Result): Unit = ()

  private def begin(out: Result): Unit = {
    prepare()
    tracer.active = false
    warmUp(out)
    tracer.active = true
  }
  def op(i: Int, out: Result): (String, Double)
  /** Operations in a traced run (fixed, so span sets repeat exactly). */
  def traceOps: Int
  def check(out: Result): Unit
  /** Turn per-operation samples into the workload's headline values. */
  def summarize(ops: Seq[(String, Double, Double)], out: Result): Unit = {
    val secs = ops.map(_._2)
    out.num("op_p50_s", Timing.median(secs))
    out.num("items_per_s", ops.map(_._3).sum / secs.sum)
  }

  protected def genTables(): Unit = {
    tables = new Tables(seed)
    tables.writeParquet(spark, tablesDir)
  }

  /** Write the named phases of the program's index build, each as one
    * span in its layer.
    */
  protected def buildPhases(names: Seq[String], out: String): Unit = {
    val phases = Indexes.buildPhases(spark, tablesDir, out, Scale.CodeReplicas).toMap
    names.foreach { n =>
      tracer.span(n, Workload.layerOf(n)) { mark =>
        val df = phases(n)()
        mark()
        df.write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
    }
  }

  protected def runOp(i: Int, out: Result): (String, Double, Double) = {
    tracer.setRequest(i)
    val t = System.nanoTime()
    val (kind, items) = op(i, out)
    val dt = (System.nanoTime() - t) / 1e9
    // per-operation lineage-cut blocks are released outside the timing
    Materialize.releaseAll()
    (kind, dt, items)
  }

  def timedRun(seconds: Double, out: Result): Unit = {
    begin(out)
    val samples = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || !windowComplete(samples.toSeq)) {
      out.attempted += 1
      samples += runOp(i, out)
      i += 1
    }
    samples.groupBy(_._1).foreach { case (k, v) => out.arr(s"op_s.$k", v.map(_._2).toSeq) }
    summarize(samples.toSeq, out)
  }

  /** Whether the samples so far cover what `summarize` needs. */
  protected def windowComplete(s: Seq[(String, Double, Double)]): Boolean = true

  /** Each operation runs once untraced and once traced (the order
    * alternates), so the tracing overhead is measured on equal work.
    */
  def traceRun(out: Result): Unit = {
    begin(out)
    val plain = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val traced = mutable.ArrayBuffer.empty[(String, Double, Double)]
    for (i <- 0 until traceOps) {
      val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach { on =>
        tracer.active = on
        out.attempted += 1
        (if (on) traced else plain) += runOp(if (repeatsOps) i else 2 * i + (if (on) 1 else 0), out)
      }
    }
    tracer.active = true
    out.num("trace_overhead_s",
      Timing.median(traced.map(_._2).toSeq) - Timing.median(plain.map(_._2).toSeq))
    out.arr("traced_op_s", traced.map(_._2).toSeq)
    out.arr("untraced_op_s", plain.map(_._2).toSeq)
    summarize(plain.toSeq, out)
  }

  /** Whether op(i) can run twice with the same input (false for a
    * stream, which consumes its edits).
    */
  protected def repeatsOps: Boolean = true
}

// ---------------------------------------------------------------- build

final class BuildWorkload(s: SparkSession, seed: Long, work: String, t: Tracer)
    extends Workload(s, seed, work, t) {
  private val outDir = s"$work/built"
  def traceOps = 1

  /** Traced runs build once untraced first, so the traced/untraced
    * pair that measures the tracing overhead runs on a warm JVM.
    */
  override def warmUp(out: Result): Unit =
    if (tracer.enabled) { out.attempted += 1; runOp(-1, out) }

  def setup(): Unit = tracer.span("generate_tables", "setup")(_ => genTables())

  def op(i: Int, out: Result): (String, Double) = {
    if (tracer.enabled && tracer.active)
      buildPhases(Indexes.buildPhases(spark, tablesDir, outDir, Scale.CodeReplicas).map(_._1), outDir)
    else Indexes.build(spark, tablesDir, outDir, Scale.CodeReplicas)
    ("build", (tables.size + graft.parser.CodeFixtures.files.size * Scale.CodeReplicas).toDouble)
  }

  def check(out: Result): Unit = {
    def rows(n: String): Long = spark.read.parquet(s"$outDir/$n.parquet").count()
    val files = graft.parser.CodeFixtures.files.size.toLong * Scale.CodeReplicas
    out.check(rows("code_files") == files, s"code_files rows ${rows("code_files")} != $files")
    val chunks = rows("chunks")
    out.check(chunks > 0 && chunks % Scale.CodeReplicas == 0,
      s"chunks rows $chunks not a positive multiple of ${Scale.CodeReplicas} replicas")
    out.check(rows("copurchase_edges") == tables.copurchaseEdgeCount,
      s"copurchase_edges rows ${rows("copurchase_edges")} != ${tables.copurchaseEdgeCount}")
    out.check(rows("ivf_assigned") == tables.vecs.size,
      s"ivf_assigned rows ${rows("ivf_assigned")} != ${tables.vecs.size}")
    out.check(rows("simhash_sigs") == tables.docs.size,
      s"simhash_sigs rows ${rows("simhash_sigs")} != ${tables.docs.size}")
    val pairs = spark.read.parquet(s"$outDir/neardup_pairs.parquet")
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    val found = tables.dupPairs.count(pairs)
    val recall = found.toDouble / tables.dupPairs.size
    out.num("dedup_pair_recall", recall)
    out.num("dedup_pair_precision", found.toDouble / math.max(pairs.size, 1))
    out.num("dedup.pairs_emitted", pairs.size.toDouble)
    out.check(recall >= BuildWorkload.RecallFloor,
      f"dedup_pair_recall $recall%.3f below floor ${BuildWorkload.RecallFloor}")
  }
}

object BuildWorkload {
  val RecallFloor = 0.9
}

// ------------------------------------------------------------ mixed_ops

/** One mixed operation. A batch search carries its text queries and
  * the vector ids of its dense leg.
  */
final case class Op(kind: String, target: String, vec: Long = -1L,
                    queries: Seq[String] = Nil, vecs: Seq[Long] = Nil)

final case class MixedInputs(rounds: IndexedSeq[IndexedSeq[Op]]) extends WorkloadInputs {
  def digestInto(md: MessageDigest): Unit =
    rounds.foreach(r => md.update(r.mkString("m|", "\u0001", "\n").getBytes(UTF_8)))
  def size: Long = rounds.map(_.size).sum.toLong
}

object MixedWorkload {
  /** The reference's 50-operation batch, by type. */
  val BatchMix: Seq[(String, Int)] = Seq("search" -> 20, "callers" -> 10, "callees" -> 5,
    "impact" -> 6, "explain" -> 4, "scout" -> 4, "read" -> 1)
  val Types: Seq[String] = BatchMix.map(_._1)
  /** One measured round: every type, the cheap graph operations more
    * than once, so their medians rest on more than one target, plus one
    * batched search, whose cost grows with the number of queries rather
    * than with the per-call job count.
    */
  val RoundMix: Seq[(String, Int)] = Seq("search" -> 1, "callers" -> 3, "callees" -> 2,
    "impact" -> 2, "explain" -> 1, "scout" -> 1, "read" -> 1, "batch" -> 1)
  val RoundSize: Int = RoundMix.map(_._2).sum
  val K = 10
  /** Queries in one batched search (text queries for the lexical leg,
    * vectors for the dense leg).
    */
  val BatchQueries = 1024
  /** The warm-up round: a small batch (it runs the code paths of both
    * searches), a callers and an impact operation. The report
    * composites are not warmed up: each runs once a round, so its first
    * call is the measured one on every run, and warming the three up
    * would cost a quarter of a run.
    */
  val WarmUpBatchQueries = 64
  val WarmUpMix: Seq[(String, Int)] = Seq("batch" -> 1, "callers" -> 1, "impact" -> 1)
  val NProbe = 4
  val DigestRounds = 8
  val HitFloor = 0.9
  val KnnRecallFloor = 0.8
  val RecallProbes = 64
  val WarmUpSeed = -1L

  def classOf(t: String): String = t match {
    case "search" => "search"
    case "batch" => "batch"
    case "callers" | "callees" | "impact" => "graph"
    case _ => "report"
  }

  /** A search query drawn from the corpus vocabulary; the kind cycles
    * with the round: identifier (NAME_rI), natural language, negation,
    * type-hinted.
    */
  def query(rnd: Random, kind: Int): String = {
    def w() = Corpus.words(rnd.nextInt(Corpus.words.size))
    kind % 4 match {
      case 0 => s"${Corpus.functionNames(rnd.nextInt(Corpus.functionNames.size))}_r${rnd.nextInt(Scale.CodeReplicas)}"
      case 1 => s"${w()} ${w()} ${w()}"
      case 2 => s"${w()} ${w()} without ${w()}"
      case _ => s"all functions ${w()} ${w()}"
    }
  }

  def isIdentifier(q: String): Boolean = q.matches("[A-Za-z_]\\w*_r\\d+")

  /** Round r holds the `mix` in a seeded order with seeded targets.
    * Rounds are generated independently, so round r is the same for a
    * seed however many rounds a run makes.
    */
  def round(seed: Long, r: Int, mix: Seq[(String, Int)] = RoundMix,
            batch: Int = BatchQueries): IndexedSeq[Op] = {
    val rnd = new Random(seed * 7919L + r)
    def fn() = s"${Corpus.functionNames(rnd.nextInt(Corpus.functionNames.size))}_r${rnd.nextInt(Scale.CodeReplicas)}"
    var searches = 0
    rnd.shuffle(mix.flatMap { case (t, n) => Seq.fill(n)(t) }).map {
      case "search" =>
        searches += 1
        Op("search", query(rnd, r + searches - 1), rnd.nextInt(Scale.Vectors).toLong)
      case "batch" =>
        // distinct texts: the lexical leg keys its results by query text
        val qs = mutable.LinkedHashSet.empty[String]
        var kind = 0
        while (qs.size < batch) { qs += query(rnd, kind); kind += 1 }
        Op("batch", s"batch$r", queries = qs.toSeq,
          vecs = Seq.fill(batch)(rnd.nextInt(Scale.Vectors).toLong))
      case "explain" => Op("explain", "q110_explain_card")
      case "scout" => Op("scout", "q67_scout_report")
      case "read" => Op("read", "q100_focused_read")
      case t => Op(t, fn())
    }.toIndexedSeq
  }

  def inputs(seed: Long, n: Int): MixedInputs = MixedInputs((0 until n).map(round(seed, _)))

  /** Plain-Scala reference for `GraphOps.bfsReverse`: minimum hop
    * distance from the seed along caller edges, seed at depth 0.
    */
  def reverseBfs(callers: Map[String, Set[String]], seed: String, maxDepth: Int): Map[String, Int] = {
    val seen = mutable.LinkedHashMap(seed -> 0)
    var frontier = Set(seed)
    for (d <- 1 to maxDepth) {
      frontier = frontier.flatMap(n => callers.getOrElse(n, Set.empty)).filterNot(seen.contains)
      frontier.foreach(n => seen(n) = d)
    }
    seen.toMap
  }
}

/** The reference's mixed batch replayed one operation per call against
  * the prebuilt code index: hybrid search (lexical hot path plus the
  * IVF dense leg), callers, callees, impact and three report
  * composites.
  */
final class MixedWorkload(s: SparkSession, seed: Long, work: String, t: Tracer,
                          codeIndex: String)
    extends Workload(s, seed, work, t) {
  import MixedWorkload._
  def traceOps: Int = RoundSize
  private var callers: Map[String, Set[String]] = Map.empty
  private var callees: Map[String, Set[String]] = Map.empty
  private var names: Set[String] = Set.empty
  private var idHits = 0L
  private var idTotal = 0L

  /** Tables from the seed, the prebuilt code index copied in, and the
    * IVF index (it depends on the seeded vectors) built.
    */
  def setup(): Unit = tracer.span("setup", "setup") { _ =>
    require(new File(s"$codeIndex/hp_meta.parquet").isDirectory, s"no code index at $codeIndex")
    genTables()
    Workload.copyTree(codeIndex, ixDir)
    buildPhases(Seq("ivf_centroids", "ivf_assigned"), ixDir)
    Indexes.setRoot(Some(ixDir))
    // artifacts stay parquet-served: with pinned in-memory copies the
    // exact job and shuffle counts of q100 differed between two runs
    // of the same seed
    Indexes.pinArtifacts = false
  }

  override def prepare(): Unit = {
    val e = spark.read.parquet(s"$ixDir/resolved_edges.parquet").collect()
      .map(r => (r.getAs[String]("caller"), r.getAs[String]("callee")))
    callees = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    callers = e.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    names = spark.read.parquet(s"$ixDir/chunks.parquet").select(col("name"))
      .distinct().collect().map(_.getString(0)).toSet
  }

  private lazy val warmUpRound = round(WarmUpSeed, 0, WarmUpMix, WarmUpBatchQueries)
  private val rounds = mutable.HashMap.empty[Int, IndexedSeq[Op]]

  /** Operation i of the run; negative indices are the warm-up round,
    * which is the same for every seed.
    */
  private def opAt(i: Int): Op =
    if (i < 0) warmUpRound(-i - 1)
    else rounds.getOrElseUpdate(i / RoundSize, round(seed, i / RoundSize))(i % RoundSize)

  /** The warm-up round, the same for every seed. The first measured
    * round is generated here, outside the timing.
    */
  override def warmUp(out: Result): Unit = {
    opAt(0)
    warmUpRound.indices.foreach { j => out.attempted += 1; runOp(-j - 1, out) }
  }

  private def edges(reverse: Boolean): DataFrame = {
    val e = Indexes.resolvedCallEdges(spark)
    if (reverse) e.select(col("callee").as("src"), col("caller").as("dst"))
    else e.select(col("caller").as("src"), col("callee").as("dst"))
  }

  /** Query vectors keyed by their position in `ids`. */
  private def vectors(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.zipWithIndex.map { case (v, q) => (q.toLong, tables.vecs(v.toInt).embedding) })
      .toDF("query_id", "qvec")

  /** Both legs of a hybrid search over `queries` and `vecs`, each one
    * call, with the output checks: per query, lexical ranks contiguous
    * from 1 within k and no duplicate document; dense ranks exactly 1..k.
    */
  private def hybridSearch(what: String, queries: Seq[String], vecs: Seq[Long], out: Result): Unit = {
    val suffix = if (queries.size > 1) "_batch" else ""
    val rows = tracer.span("lexicalHotPath" + suffix, "postings") { mark =>
      val df = BatchRetrieval.lexicalHotPath(spark, Indexes.codeChunks(spark), queries,
        k = K, index = Some(Indexes.hpFtsIndex(spark)))
      mark(); df.collect()
    }
    val byQuery = rows.groupBy(_.getAs[String]("query_id"))
    out.check(byQuery.keySet.subsetOf(queries.toSet), s"$what: results for unknown queries")
    byQuery.foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      out.check(ranks == (1 to ranks.size) && ranks.size <= K,
        s"$what '$q': ranks ${ranks.mkString(",")} not contiguous from 1 within k=$K")
      val docs = rs.map(r => (r.getAs[String]("file"), r.getAs[String]("name")))
      out.check(docs.distinct.length == docs.length, s"$what '$q': duplicate doc")
    }
    queries.filter(q => isIdentifier(q) && names(q)).foreach { q =>
      idTotal += 1
      if (byQuery.getOrElse(q, Array.empty[Row]).exists(_.getAs[String]("name") == q)) idHits += 1
    }
    val knn = tracer.span("ivfKnnAssigned" + suffix, "similarity") { mark =>
      val (cents, assigned) = Indexes.ivfIndex(spark).get
      val df = Similarity.ivfKnnAssigned(vectors(vecs), assigned, cents, k = K, nprobe = NProbe)
      mark(); df.collect()
    }
    val dense = knn.groupBy(_.getAs[Long]("query_id"))
    out.check(dense.size == vecs.size, s"$what: dense leg answered ${dense.size} of ${vecs.size} vectors")
    dense.foreach { case (q, rs) =>
      val kr = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      out.check(kr == (1 to K), s"$what: dense leg for vector ${vecs(q.toInt)}: ranks ${kr.mkString(",")}")
    }
  }

  def op(i: Int, out: Result): (String, Double) = {
    import spark.implicits._
    val o = opAt(i)
    def seeds = Seq(o.target).toDF("node")
    o.kind match {
      case "search" => hybridSearch("search", Seq(o.target), Seq(o.vec), out)
      case "batch" => hybridSearch(o.target, o.queries, o.vecs, out)
      case "callers" | "callees" =>
        val got = tracer.span("neighbors", "graph") { mark =>
          val df = GraphOps.neighbors(edges(o.kind == "callers"), seeds)
          mark(); df.collect()
        }.map(_.getAs[String]("dst")).toSet
        val want = (if (o.kind == "callers") callers else callees).getOrElse(o.target, Set.empty)
        out.check(got == want, s"${o.kind}(${o.target}): ${got.size} rows, reference ${want.size}")
      case "impact" =>
        val got = tracer.span("bfsReverse", "graph") { mark =>
          val df = GraphOps.bfsReverse(edges(false), seeds, maxDepth = 5)
          mark(); df.collect()
        }.map(r => r.getAs[String]("node") -> r.getAs[Int]("depth")).toMap
        val want = reverseBfs(callers, o.target, 5)
        out.check(got == want, s"impact(${o.target}): ${got.size} nodes, reference ${want.size}")
      case _ =>
        val rows = tracer.span(o.target.takeWhile(_ != '_'), "queries") { mark =>
          val df = SparkEntry.queries(o.target)(spark, tablesDir)
          mark(); df.collect()
        }
        out.check(rows.nonEmpty, s"${o.target} returned no rows")
    }
    (o.kind, if (o.kind == "batch") o.queries.size.toDouble else 1.0)
  }

  override protected def windowComplete(s: Seq[(String, Double, Double)]): Boolean =
    s.size % RoundSize == 0

  /** The headline latency is the geometric mean of the per-type
    * medians of the reference batch's seven types (a median over the
    * whole mix falls between types and jumps); it is bound by the
    * per-call job floor. The throughput is that of the batched search,
    * hybrid queries per second, which is bound by data volume. The
    * reference batch's rate, estimated from the per-type medians, and
    * the per-class medians go to the result's side values.
    */
  override def summarize(ops: Seq[(String, Double, Double)], out: Result): Unit = {
    val p50 = ops.groupBy(_._1).map { case (k, v) => k -> Timing.median(v.map(_._2)) }
    out.num("op_p50_s", math.exp(Types.map(t => math.log(p50(t))).sum / Types.size))
    val batches = ops.filter(_._1 == "batch")
    out.num("items_per_s", batches.map(_._3).sum / batches.map(_._2).sum)
    out.num("ref_batch_ops_per_s", BatchMix.map(_._2).sum / BatchMix.map { case (t, n) => n * p50(t) }.sum)
    Seq("search", "graph", "report").foreach { c =>
      out.num(s"${c}_op_p50_s", Timing.median(ops.filter(o => classOf(o._1) == c).map(_._2)))
    }
    // the report operations are single calls into the queries layer
    out.num("queries.op_p50_s", Timing.median(ops.filter(o => classOf(o._1) == "report").map(_._2)))
  }

  /** Identifier hit rate, and the IVF index's recall against exact
    * cosine top-k over seeded probe vectors (outside the timed window).
    */
  def check(out: Result): Unit = {
    val hit = idHits.toDouble / math.max(idTotal, 1L)
    out.num("search_hit_at_10", hit)
    out.check(idTotal > 0 && hit >= HitFloor,
      f"search_hit_at_10 $hit%.3f over $idTotal identifier queries below floor $HitFloor")
    val rnd = new Random(seed)
    val probes = Seq.fill(RecallProbes)(rnd.nextInt(Scale.Vectors).toLong).distinct
    val (cents, assigned) = Indexes.ivfIndex(spark).get
    def topK(df: DataFrame): Map[Long, Set[Long]] = df.collect()
      .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) => k -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val ivf = topK(Similarity.ivfKnnAssigned(vectors(probes), assigned, cents, k = K, nprobe = NProbe))
    val exact = topK(Similarity.cosineKnn(vectors(probes),
      spark.read.parquet(s"$tablesDir/embeddings.parquet"), K))
    val r = probes.indices.map(_.toLong)
      .map(q => ivf.getOrElse(q, Set.empty).count(exact(q)).toDouble / exact(q).size).sum / probes.size
    out.num("knn_recall_at_10", r)
    out.check(r >= KnnRecallFloor, f"knn_recall_at_10 $r%.3f below floor $KnnRecallFloor")
  }
}

// ---------------------------------------------------------------- watch

final case class Edit(origin: String, language: String, content: String, version: Long)

final case class WatchInputs(batches: IndexedSeq[IndexedSeq[Edit]]) extends WorkloadInputs {
  def digestInto(md: MessageDigest): Unit = batches.foreach(_.foreach(e =>
    md.update(s"w|${e.version}|${e.origin}|${e.language}|${e.content}\n".getBytes(UTF_8))))
  def size: Long = batches.map(_.size).sum.toLong
}

object WatchWorkload {
  val FilesPerBatch = 20
  val DigestBatches = 40
  val TraceBatches = 20

  /** The watched tree: the text fixture files, replicated under
    * distinct directories.
    */
  def initialFiles: IndexedSeq[(String, String, String)] =
    (0 until Scale.WatchReplicas).flatMap(r => Corpus.textFiles.map { case (o, l, c) =>
      (s"watch/w$r/${o.stripPrefix("fixtures/")}", l, c)
    })

  /** A seeded edit stream over an evolving file set: changed files
    * (a line duplicated or dropped), new files (copies under a new
    * directory) and unchanged re-saves, twenty distinct files a batch.
    */
  final class EditStream(seed: Long) {
    private val rnd = new Random(seed)
    val files: mutable.LinkedHashMap[String, (String, String)] =
      mutable.LinkedHashMap(initialFiles.map { case (o, l, c) => o -> (l, c) }: _*)
    private var version = 0L
    private var newCount = 0

    def next(): IndexedSeq[Edit] = {
      val keys = files.keys.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[String]
      while (picked.size < FilesPerBatch) picked += keys(rnd.nextInt(keys.size))
      picked.toIndexedSeq.map { o =>
        val (lang, content) = files(o)
        version += 1
        rnd.nextInt(10) match {
          case k if k < 6 =>
            val ls = content.split("\n", -1).toBuffer
            val at = rnd.nextInt(ls.size)
            if (rnd.nextBoolean() || ls.size < 3) ls.insert(at, ls(at)) else ls.remove(at)
            val c2 = ls.mkString("\n")
            files(o) = (lang, c2)
            Edit(o, lang, c2, version)
          case k if k < 8 =>
            newCount += 1
            val n = s"watch/new$newCount/${o.split('/').last}"
            files(n) = (lang, content)
            Edit(n, lang, content, version)
          case _ => Edit(o, lang, content, version)
        }
      }
    }
  }

  def inputs(seed: Long, n: Int): WatchInputs = {
    val es = new EditStream(seed)
    WatchInputs((0 until n).map(_ => es.next()))
  }

  val EditSchema: StructType = StructType(Seq(
    StructField("origin", StringType), StructField("language", StringType),
    StructField("content", StringType), StructField("version", LongType)))
}

final class WatchWorkload(s: SparkSession, seed: Long, work: String, t: Tracer)
    extends Workload(s, seed, work, t) {
  import WatchWorkload._
  def traceOps: Int = TraceBatches / 2
  override protected def repeatsOps: Boolean = false
  /** The first micro-batch pays the stream's start-up and code
    * generation; it runs untimed.
    */
  override def warmUp(out: Result): Unit = { out.attempted += 1; runOp(-1, out) }
  private val watchDir = s"$work/watch"
  private val inDir = s"$watchDir/in"
  private val target = s"$watchDir/chunk_table"
  private var edits: EditStream = _
  private var query: StreamingQuery = _
  private var staged = 0

  private def chunkRows(files: DataFrame): DataFrame = {
    val chunks = Chunker.chunkDataset(files).toDF()
      .groupBy(col("origin"))
      .agg(array_sort(collect_list(struct(col("start_line"), col("end_line"), col("chunk_type"),
        col("name"), col("language"), col("content"), col("doc")))).as("chunks"))
    files.select(col("origin"), col("version"), Incremental.fingerprint(col("content")).as("fp"))
      .join(chunks, Seq("origin"), "left")
      .withColumn("chunks", coalesce(col("chunks"), array().cast(chunks.schema("chunks").dataType)))
  }

  def setup(): Unit = tracer.span("setup", "setup") { _ =>
    stopStream()
    deleteTree(new File(watchDir))
    new File(inDir).mkdirs()
    import spark.implicits._
    edits = new EditStream(seed)
    val files = edits.files.toSeq.map { case (o, (l, c)) => (o, l, c, 0L) }
      .toDF("origin", "language", "content", "version")
    chunkRows(files).coalesce(1).write.mode("overwrite").parquet(target)
    staged = 0
  }

  override def prepare(): Unit = {
    val stream = spark.readStream.schema(EditSchema).option("maxFilesPerTrigger", 1).json(inDir)
    val merge = Streams.mergeUpsertBatch(target, "origin", "version")
    query = stream.writeStream
      .option("checkpointLocation", s"$watchDir/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val withFp = batch.withColumn("fp", Incremental.fingerprint(col("content")))
        val changed = tracer.span("streamingWorklist", "streaming") { mark =>
          val registry = spark.read.parquet(target).select(col("origin"), col("fp"))
          val work = Streams.streamingWorklist(withFp, registry, "origin", "fp")
          val df = withFp.join(work.select(col("origin")), Seq("origin"))
          mark(); df.localCheckpoint(true)
        }
        val rows = tracer.span("chunkDataset", "parser") { mark =>
          val df = chunkRows(changed.drop("fp"))
          mark(); df.localCheckpoint(true)
        }
        tracer.span("mergeUpsertBatch", "streaming") { mark => mark(); merge(rows, id) }
        ()
      }
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  def op(i: Int, out: Result): (String, Double) = {
    val batch = edits.next()
    val tmp = new File(s"$watchDir/staging-$staged.json")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try batch.foreach(e => w.println(s"""{"origin":${Json.str(e.origin)},"language":${Json.str(e.language)},""" +
      s""""content":${Json.str(e.content)},"version":${e.version}}"""))
    finally w.close()
    require(tmp.renameTo(new File(s"$inDir/batch-$staged.json")), "could not stage edit batch")
    staged += 1
    query.processAllAvailable()
    ("watch", batch.size.toDouble)
  }

  override def summarize(ops: Seq[(String, Double, Double)], out: Result): Unit = {
    super.summarize(ops, out)
    out.num("streaming.batch_p90_s", Timing.quantile(ops.map(_._2), 0.9))
  }

  def check(out: Result): Unit = {
    stopStream()
    import spark.implicits._
    val got = spark.read.parquet(target).select(col("origin"), explode(col("chunks")).as("c"))
      .select(col("origin"), col("c.language"), col("c.chunk_type"), col("c.name"),
        col("c.start_line"), col("c.end_line"), col("c.content"), col("c.doc"))
    val files = edits.files.toSeq.map { case (o, (l, c)) => (o, l, c) }.toDF("origin", "language", "content")
    val want = Chunker.chunkDataset(files).toDF()
      .select(col("origin"), col("language"), col("chunk_type"), col("name"),
        col("start_line"), col("end_line"), col("content"), col("doc"))
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    out.check(extra == 0 && missing == 0,
      s"final chunk table differs from chunkDataset over the final files: $extra extra, $missing missing")
    val tableFiles = spark.read.parquet(target).count()
    out.check(tableFiles == edits.files.size, s"chunk table holds $tableFiles files, expected ${edits.files.size}")
  }

  private def stopStream(): Unit = if (query != null) { query.stop(); query = null }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
