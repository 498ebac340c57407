package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated document, in the shape every workload loads. */
final case class Doc(id: String, vector: Array[Double], text: String, tag: String, page: Int) {
  /** Bytes of user data this document carries (UTF-8 strings, 8 bytes
    * per vector component, 4 for the page): the denominator of the
    * space and write amplification ratios. */
  def userBytes: Long =
    id.getBytes(UTF_8).length + 8L * vector.length + text.getBytes(UTF_8).length +
      tag.getBytes(UTF_8).length + 4L
}

/** The benchmark's only source of inputs. Every value derives from the
  * seed through named streams, so one stream's consumption never shifts
  * another's values, and the same seed gives byte-identical inputs
  * (`digest` pins that in the self-test). Vectors are unit vectors from
  * a Gaussian mixture; text is Zipf-distributed over a fixed
  * vocabulary whose most frequent words include the engine's English
  * stopwords, so quality and LM scores are not degenerate. */
final class Gen(seed: Long) {
  import Gen._

  def stream(name: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong)

  private val centers: Array[Array[Double]] = {
    val r = stream("centers")
    Array.fill(Centers)(unit(Array.fill(Dim)(gaussian(r))))
  }

  def vector(r: SplittableRandom): Array[Double] = {
    val c = centers(r.nextInt(Centers))
    unit(Array.tabulate(Dim)(i => c(i) + Spread * gaussian(r)))
  }

  /** `v` moved slightly: a near-duplicate embedding. */
  def jitter(r: SplittableRandom, v: Array[Double]): Array[Double] =
    unit(Array.tabulate(Dim)(i => v(i) + 0.01 * gaussian(r)))

  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    Vocab(if (i >= 0) i else math.min(-i - 1, VocabSize - 1))
  }

  def text(r: SplittableRandom): String = Seq.fill(DocTokens)(word(r)).mkString(" ")

  def doc(r: SplittableRandom, id: String): Doc =
    Doc(id, vector(r), text(r), s"t${r.nextInt(Tags)}", r.nextInt(Pages))

  def docs(name: String, n: Int, id: Int => String = docId): Vector[Doc] = {
    val r = stream(name)
    Vector.tabulate(n)(i => doc(r, id(i)))
  }
}

object Gen {
  val Dim = 64
  val Centers = 64
  val Spread = 0.06
  val VocabSize = 5000
  val DocTokens = 40
  val Tags = 8
  val Pages = 1000

  def docId(i: Int): String = f"doc-$i%07d"

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "pi",
    "da", "fe", "go", "hu", "ji", "be")
  /** Stopwords first (the highest Zipf ranks), then pseudo-words. */
  val Vocab: Vector[String] = {
    val stop = Vector("the", "a", "of", "and", "is", "to", "in", "it", "that", "for")
    val words = Iterator.from(0).map { i =>
      var k = i; val sb = new StringBuilder
      do { sb ++= syllables(k % syllables.size); k /= syllables.size } while (k > 0)
      sb.toString
    }.filterNot(w => w.length < 4 || stop.contains(w)).take(VocabSize - stop.size).toVector
    stop ++ words
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Box–Muller over StrictMath: the same doubles on every JVM. */
  def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    StrictMath.sqrt(-2.0 * StrictMath.log(u)) * StrictMath.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id, d.vector.toSeq, d.text, d.tag, d.page)).asJava, DocSchema)

  /** The same frame with numeric ids (`id` must be digits): graft's
    * connected-components stage, behind semDedup and the training
    * set's near-duplicate collapse, fails on string ids. */
  def numericFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id.toLong, d.vector.toSeq, d.text, d.tag, d.page)).asJava,
      StructType(StructField("id", LongType, nullable = false) +: DocSchema.fields.tail))

  /** Query batch frame (qid, qv). */
  def queries(spark: SparkSession, qs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(qs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qv", ArrayType(DoubleType, containsNull = false), nullable = false))))

  /** SHA-256 over a canonical encoding of the documents. */
  def digest(docs: Seq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    docs.foreach { d =>
      Seq(d.id, d.text, d.tag).foreach { s => md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
      d.vector.foreach { x => buf.clear(); buf.putDouble(x); md.update(buf.array()) }
      buf.clear(); buf.putLong(d.page.toLong); md.update(buf.array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
