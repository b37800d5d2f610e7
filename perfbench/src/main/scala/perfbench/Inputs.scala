package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.parser.{Chunker, CodeFixtures}

/** Sizes of the generated inputs. One place, so the README and the
  * tests can quote them.
  */
object Scale {
  val Docs = 600          // documents table rows before near-dup injection
  val NearDups = 30       // injected near-duplicate documents
  val Orders = 1500       // lineitem orders, order o has 1 + o % 6 lines
  val Parts = 400         // distinct part keys
  val Vectors = 2000      // embeddings rows, 64 dimensions
  val Dims = 64
  val Labels = 10
  val CodeReplicas = 6    // fixture-corpus replicas in the code index
  val WatchReplicas = 6   // replicas in the watch workload's chunk table
}

final case class Doc(docId: Long, text: String, lang: String, source: String)
final case class Line(orderKey: Long, partKey: Long)
final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

/** Seeded tables: documents (with injected near-duplicate pairs),
  * lineitem (order → part) and clustered embeddings. Generation is
  * pure JVM code over `scala.util.Random(seed)`, so the same seed gives
  * the same rows in the same order on every run.
  */
final class Tables(val seed: Long) {
  private val rnd = new Random(seed)

  /** A fixed pseudo-word vocabulary (not seeded: the seed picks words,
    * the vocabulary itself never changes).
    */
  private val vocab: IndexedSeq[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val co = Seq("", "n", "r", "s", "x")
    (for (a <- on; b <- nu; c <- on; d <- nu; e <- co) yield a + b + c + d + e)
      .take(1200).toIndexedSeq
  }
  private val langs = IndexedSeq("en", "de", "fr", "es", "zh")

  private def word(): String = {
    // skewed pick: low indices are common, like natural text
    val u = rnd.nextDouble()
    vocab((u * u * vocab.size).toInt)
  }

  val (docs: IndexedSeq[Doc], dupPairs: Set[(Long, Long)]) = {
    val base = (0 until Scale.Docs).map { _ =>
      val n = 30 + rnd.nextInt(60)
      (Seq.fill(n)(word()).mkString(" "), langs(rnd.nextInt(langs.size)),
        s"src${rnd.nextInt(20)}")
    }
    val dups = (0 until Scale.NearDups).map { _ =>
      val b = rnd.nextInt(base.size)
      val ws = base(b)._1.split(' ')
      // two word substitutions keep 3-shingle Jaccard well above 0.5
      for (_ <- 0 until 2) ws(rnd.nextInt(ws.length)) = word()
      (b, (ws.mkString(" "), base(b)._2, base(b)._3))
    }
    val rows = base ++ dups.map(_._2)
    // ids are a seeded permutation, so the table's row order and the
    // id order disagree
    val ids = rnd.shuffle((0L until rows.size.toLong).toIndexedSeq)
    val out = rows.indices.map(i =>
      Doc(ids(i), rows(i)._1, rows(i)._2, rows(i)._3))
    val pairs = dups.zipWithIndex.map { case ((b, _), j) =>
      val x = ids(b); val y = ids(base.size + j)
      (math.min(x, y), math.max(x, y))
    }.toSet
    (rnd.shuffle(out), pairs)
  }

  val lines: IndexedSeq[Line] = (0 until Scale.Orders).flatMap { o =>
    // a fixed line count per order keeps the table size seed-independent
    Seq.fill(1 + o % 6) {
      val u = rnd.nextDouble()
      Line(o.toLong, (u * u * Scale.Parts).toLong)
    }
  }

  val vecs: IndexedSeq[Vec] = {
    val centers = IndexedSeq.fill(Scale.Labels)(
      Array.fill(Scale.Dims)(rnd.nextGaussian().toFloat))
    (0 until Scale.Vectors).map { i =>
      val l = rnd.nextInt(Scale.Labels)
      Vec(i.toLong, centers(l).map(c => (c + 0.6 * rnd.nextGaussian()).toFloat), l)
    }
  }

  /** Plain-Scala co-purchase edge count: distinct ordered part pairs
    * sharing an order, both orientations (the copurchase_edges shape).
    */
  def copurchaseEdgeCount: Long =
    lines.groupBy(_.orderKey).values.flatMap { ls =>
      val ps = ls.map(_.partKey).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet.size * 2L

  def writeParquet(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    lines.map(l => (l.orderKey, l.partKey)).toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    vecs.map(v => (v.vecId, v.embedding, v.label)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def digestInto(md: MessageDigest): Unit = {
    docs.foreach(d => md.update(s"d|${d.docId}|${d.lang}|${d.source}|${d.text}\n".getBytes(UTF_8)))
    lines.foreach(l => md.update(s"l|${l.orderKey}|${l.partKey}\n".getBytes(UTF_8)))
    vecs.foreach(v => md.update(s"v|${v.vecId}|${v.label}|${v.embedding.mkString(",")}\n".getBytes(UTF_8)))
  }

  def size: Long = docs.size.toLong + lines.size + vecs.size
}

/** The fixture code corpus as the code index replicates it, computed
  * with the local (non-Spark) chunker: the vocabulary the seeded
  * queries and edits draw from.
  */
object Corpus {
  /** (origin, language, content) of the base fixture files that are
    * plain text (pdf and chm payloads are binary containers).
    */
  lazy val textFiles: IndexedSeq[(String, String, String)] =
    CodeFixtures.files.filterNot(f => Set("pdf", "chm")(f._2)).toIndexedSeq

  lazy val baseChunks: IndexedSeq[Chunker.Chunk] =
    CodeFixtures.files.flatMap { case (o, l, c) => Chunker.chunkFile(o, l, c) }.toIndexedSeq

  /** Identifier-named function chunks: the replica generator renames
    * exactly these to NAME_r{i}.
    */
  lazy val functionNames: IndexedSeq[String] =
    baseChunks.filter(c => c.chunk_type == "function" && c.name.matches("[A-Za-z_]\\w*"))
      .map(_.name).distinct.sorted

  /** Lower-case content words of function chunks (length >= 4). */
  lazy val words: IndexedSeq[String] =
    baseChunks.filter(_.chunk_type == "function")
      .flatMap(c => c.content.toLowerCase.split("[^a-z]+"))
      .filter(w => w.length >= 4 && w.length <= 12)
      .distinct.sorted
}
