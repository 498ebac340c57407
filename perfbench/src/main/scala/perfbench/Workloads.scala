package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.{GraftClient, GraftCollection}

/** What every workload gives the measuring loop in [[Main]]. */
trait Workload {
  /** Builds the workload's state from scratch under `root`. */
  def setup(root: Path): Unit
  /** One closed-loop step: a request, or a fixed group of requests. */
  def step(): Unit
  /** Steps in one whole cycle of the workload's pattern; a run measures
    * whole cycles, so every run's sample has the same composition. */
  def cycle: Int
  /** Untimed work before measuring, so JIT and codegen settle: every
    * request kind runs at least once. */
  def warmUp(): Unit = step()
  /** Samples behind `p50_ms`. */
  def primary: Seq[Double]
  /** Documents served, ingested or curated so far, and the request time
    * they took. */
  def docs: Long
  def busyMs: Double
  /** Result quality in [0, 1] (see each workload). */
  def recall: Double
  /** End-of-run state checks. */
  def finalChecks(): Unit
  /** Per-layer values measured by the workload itself (not by spans). */
  def layerExtras: Map[String, Double]
  /** Marks the end of warm-up: what happened so far is not measured. */
  def resetMeasures(): Unit
}

/** Brute-force cosine top-k over generated documents: the reference the
  * exact search must equal and the approximate ones are graded by. */
object Brute {
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Top-k (id, cosine) among `docs`, by score then id. */
  def topK(docs: Iterable[Doc], q: Array[Double], k: Int): Seq[(String, Double)] = {
    val qn = math.sqrt(dot(q, q))
    docs.iterator.map(d => (d.id, dot(d.vector, q) / (qn * math.sqrt(dot(d.vector, d.vector)))))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def recall(got: Seq[String], want: Seq[(String, Double)]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.map(_._1).toSet).size.toDouble / want.size
}

/** Search result rows grouped per query, in rank order. */
object Hits {
  def byQuery(rows: Array[Row]): Map[Long, Seq[Row]] =
    rows.groupBy(r => r.get(r.fieldIndex("query_id")).toString.toLong).map { case (q, rs) =>
      q -> rs.toSeq.sortBy(r => r.getInt(r.fieldIndex("rank")))
    }

  def id(r: Row): String = r.get(r.fieldIndex("id")).toString

  /** Problems every ranked list must be free of: more than k hits, an id
    * twice, ranks not 1..n. */
  def shape(hits: Map[Long, Seq[Row]], k: Int): Option[String] = hits.collectFirst {
    case (q, rs) if rs.size > k => s"query $q returned ${rs.size} > $k hits"
    case (q, rs) if rs.map(id).distinct.size != rs.size => s"query $q returned an id twice"
    case (q, rs) if rs.map(r => r.getInt(r.fieldIndex("rank"))) != (1 to rs.size) =>
      s"query $q ranks are not 1..${rs.size}"
  }
}

/** A document filter the benchmark evaluates itself and hands to graft
  * in its filter language. */
final case class DocFilter(tags: Seq[String], pageAbove: Int) {
  def expr: String = s"""tag in (${tags.map(t => "\"" + t + "\"").mkString(", ")}) and page > $pageAbove"""
  def apply(d: Doc): Boolean = tags.contains(d.tag) && d.page > pageAbove
}

/** Shared by the two workloads that serve from a collection. */
abstract class CollectionWorkload(spark: SparkSession, gen: Gen, client: Client) extends Workload {
  protected var coll: GraftCollection = _
  protected var root: Path = _
  protected val live = mutable.LinkedHashMap.empty[String, Doc]
  protected val recalls = mutable.ArrayBuffer.empty[Double]

  def recall: Double = if (recalls.isEmpty) 0.0 else Stats.mean(recalls.toSeq)

  /** A fresh collection holding `docs`, with HNSW and fulltext indexes. */
  protected def build(root: Path, docs: Seq[Doc]): Unit = {
    this.root = root
    live.clear()
    docs.foreach(d => live(d.id) = d)
    coll = new GraftClient(spark, root.toString).createDatabase("bench").createCollection("docs")
    coll.upsert(Gen.frame(spark, docs))
    coll.rebuildHnswIndex()
    coll.rebuildFulltextIndex("text")
  }

  /** HNSW search check: ranked-list shape, requested fields equal the
    * stored document's, the filter holds; adds the request's recall@10
    * against brute force. */
  protected def checkDense(rows: Array[Row], qs: Seq[Array[Double]],
                           filter: Option[DocFilter]): Option[String] = {
    val hits = Hits.byQuery(rows)
    val eligible = filter.fold(live.values)(f => live.values.filter(f(_)))
    val fieldProblem = rows.iterator.map { r =>
      val d = live.get(Hits.id(r))
      if (d.isEmpty) Some(s"unknown id ${Hits.id(r)}")
      else if (filter.exists(f => !f(d.get))) Some(s"id ${d.get.id} violates the filter")
      else if (r.schema.fieldNames.contains("page") &&
          (r.getInt(r.fieldIndex("page")) != d.get.page || r.getString(r.fieldIndex("tag")) != d.get.tag))
        Some(s"id ${d.get.id} came back with stale fields")
      else None
    }.collectFirst { case Some(p) => p }
    Hits.shape(hits, 10).orElse(fieldProblem).orElse {
      val per = qs.indices.map { q =>
        Brute.recall(hits.getOrElse(q.toLong, Nil).map(Hits.id), Brute.topK(eligible, qs(q), 10))
      }
      recalls += Stats.mean(per)
      None
    }
  }

  def catalogBytes: Long = Catalog.bytes(root)
  def userBytes: Long = live.values.map(_.userBytes).sum

  def finalChecks(): Unit = {
    val n = coll.count()
    client.verify("count")(if (n == live.size) None else Some(s"count() = $n, expected ${live.size}"))
  }

  def layerExtras: Map[String, Double] =
    Map("catalog.bytes_per_user_byte" -> Stats.amplification(catalogBytes, userBytes))
}

/** `serve`: a read-only, fixed mix of small requests against one warm
  * collection. The mix and its order do not depend on the seed; the
  * data and the request parameters do. */
final class Serve(spark: SparkSession, gen: Gen, client: Client, n: Int)
    extends CollectionWorkload(spark, gen, client) {
  import Serve._

  private case class Params(qs: Seq[Array[Double]], filter: DocFilter, keywords: Seq[String],
                            ids: Seq[String], queryFilter: DocFilter)
  private var pool: IndexedSeq[Params] = IndexedSeq.empty
  private var steps = 0
  private var served = 0L
  private var busy = 0.0
  private val exactCache = mutable.HashMap.empty[Int, Seq[Seq[(String, Double)]]]

  def setup(root: Path): Unit = {
    build(root, gen.docs("corpus", n))
    val r = gen.stream("requests")
    val ids = live.keys.toIndexedSeq
    def filter() = {
      val a = r.nextInt(Gen.Tags)
      val b = (a + 1 + r.nextInt(Gen.Tags - 1)) % Gen.Tags
      DocFilter(Seq(s"t$a", s"t$b").sorted, r.nextInt(Gen.Pages / 2))
    }
    pool = IndexedSeq.fill(PoolSize)(Params(
      Seq.fill(Queries)(gen.vector(r)), filter(),
      Seq.fill(2)(Gen.Vocab(10 + r.nextInt(300))),
      Seq.fill(20)(ids(r.nextInt(ids.size))).distinct, filter()))
    exactCache.clear()
  }

  def step(): Unit = {
    val kind = Mix(steps % Mix.size)
    val pi = (steps / Mix.size) % pool.size
    val p = pool(pi)
    steps += 1
    val q = Gen.queries(spark, p.qs)
    val t0 = System.nanoTime()
    val got: Option[Array[Row]] = kind match {
      case "search" =>
        client.request("search")(coll.search(q, "qid", "qv", limit = 10, ef = Some(Ef)))(
          Client.collect)(checkDense(_, p.qs, None), _.length.toLong)
      case "search_filtered" =>
        client.request("search")(coll.search(q, "qid", "qv", limit = 10, ef = Some(Ef),
            filter = p.filter.expr, outputFields = Seq("tag", "page")))(Client.collect)(
          checkDense(_, p.qs, Some(p.filter)), _.length.toLong)
      case "exact" =>
        client.request("exact")(coll.search(q, "qid", "qv", metric = "cosine", limit = 10))(
          Client.collect)(checkExact(_, pi, p.qs), _.length.toLong)
      case "hybrid" =>
        client.request("hybrid")(coll.hybridSearch(q, "qid", "qv", p.keywords, limit = 10,
            ef = Some(Ef)))(Client.collect)(checkHybrid, _.length.toLong)
      case "query" =>
        client.request("query")(coll.query(p.queryFilter.expr, Seq("page" -> false, "id" -> true),
            limit = Some(20), outputFields = Seq("id", "tag", "page")))(Client.collect)(
          checkQuery(_, p.queryFilter), _.length.toLong)
      case "query_ids" =>
        client.request("query")(coll.queryByIds(p.ids, Seq("id", "tag", "page")))(Client.collect)(
          checkIds(_, p.ids), _.length.toLong)
    }
    got.foreach { rows => served += rows.length; busy += (System.nanoTime() - t0) / 1e6 }
  }

  def cycle: Int = Mix.size
  override def warmUp(): Unit = Mix.foreach(_ => step())
  def primary: Seq[Double] = client.samples
  def docs: Long = served
  def busyMs: Double = busy
  def resetMeasures(): Unit = { served = 0; busy = 0; recalls.clear() }

  private def checkExact(rows: Array[Row], pi: Int, qs: Seq[Array[Double]]): Option[String] = {
    val want = exactCache.getOrElseUpdate(pi, qs.map(Brute.topK(live.values, _, 10)))
    val hits = Hits.byQuery(rows)
    qs.indices.collectFirst(Function.unlift { q =>
      val got = hits.getOrElse(q.toLong, Nil).map(r => (Hits.id(r), r.getDouble(r.fieldIndex("score"))))
      val w = want(q)
      if (got.map(_._1) != w.map(_._1)) Some(s"exact query $q ids differ from brute force")
      else got.zip(w).collectFirst {
        case ((id, s), (_, ws)) if math.abs(s - Stats.round4(ws)) > 1.01e-4 =>
          s"exact query $q score of $id is $s, brute force ${Stats.round4(ws)}"
      }
    })
  }

  private def checkHybrid(rows: Array[Row]): Option[String] =
    Hits.shape(Hits.byQuery(rows), 10).orElse(
      rows.collectFirst { case r if !live.contains(Hits.id(r)) => s"unknown id ${Hits.id(r)}" })

  private def checkQuery(rows: Array[Row], f: DocFilter): Option[String] = {
    val want = live.values.filter(f(_)).toSeq.sortBy(d => (-d.page, d.id)).take(20)
      .map(d => (d.id, d.tag, d.page))
    val got = rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    if (got == want) None else Some(s"query(${f.expr}) differs from the expected ${want.size} rows")
  }

  private def checkIds(rows: Array[Row], ids: Seq[String]): Option[String] = {
    val want = ids.map(live).map(d => (d.id, d.tag, d.page)).toSet
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    if (got == want && rows.length == ids.size) None else Some("queryByIds rows differ from the stored documents")
  }
}

object Serve {
  val Ef = 64
  val Queries = 8
  val PoolSize = 16
  /** One cycle of the mix: every request kind, dense search twice
    * (unfiltered, and filtered with output fields). */
  val Mix: Seq[String] = Seq("search", "query", "search_filtered", "exact", "query_ids", "hybrid")
}

/** `ingest`: upsert batches, half new ids and half updates of uniformly
  * drawn existing ids, into a collection with live HNSW and fulltext
  * indexes; each upsert is followed by one dense search. */
final class Ingest(spark: SparkSession, gen: Gen, client: Client, n: Int, batch: Int,
                   compactEvery: Int) extends CollectionWorkload(spark, gen, client) {
  private var nextId = 0
  private var rnd = gen.stream("ingest")
  private var queries = IndexedSeq.empty[Seq[Array[Double]]]
  private val upsertMs = mutable.ArrayBuffer.empty[Double]
  private var ingested = 0L
  private var busy = 0.0
  private var compactions = 0
  private var upserts = 0

  def setup(root: Path): Unit = {
    build(root, gen.docs("corpus", n))
    coll.setAutoCompact(compactEvery)
    nextId = n
    rnd = gen.stream("ingest")
    val qr = gen.stream("fresh-queries")
    queries = IndexedSeq.fill(Serve.PoolSize)(Seq.fill(Serve.Queries)(gen.vector(qr)))
  }

  def step(): Unit = {
    val ids = live.keys.toIndexedSeq
    val updated = Iterator.continually(ids(rnd.nextInt(ids.size))).distinct.take(batch / 2).toSeq
    val fresh = (0 until batch - batch / 2).map(i => Gen.docId(nextId + i))
    nextId += fresh.size
    val docs = (updated ++ fresh).map(gen.doc(rnd, _))
    val df = Gen.frame(spark, docs)
    val debtBefore = coll.segmentDebt
    val before = if (client.tracer.isDefined) Catalog.files(root) else Map.empty[String, Long]
    val batchBytes = docs.map(_.userBytes).sum
    val t0 = System.nanoTime()
    val ok = client.request("upsert")(coll.upsert(df))(identity)(_ => None,
      _ => docs.size.toLong, extra = {
        val after = Catalog.files(root)
        val written = after.filter { case (f, sz) => !before.get(f).contains(sz) }
        val debt = coll.segmentDebt
        Map("catalog.bytes_written" -> written.values.sum.toDouble,
          "catalog.files_written" -> written.size.toDouble,
          "catalog.write_amp" -> Stats.amplification(written.values.sum, batchBytes),
          "catalog.segments" -> debt.toDouble,
          "catalog.compaction_rate" -> (if (debt <= debtBefore) 1.0 else 0.0))
      })
    val ms = (System.nanoTime() - t0) / 1e6
    if (ok.isDefined) {
      docs.foreach(d => live(d.id) = d)
      upserts += 1
      if (coll.segmentDebt <= debtBefore) compactions += 1
      upsertMs += ms
      ingested += docs.size
      busy += ms
      verifyBatch(docs)
    }
    val qs = queries(upserts % queries.size)
    val t1 = System.nanoTime()
    client.request("fresh_search")(coll.search(Gen.queries(spark, qs), "qid", "qv", limit = 10,
      ef = Some(Serve.Ef)))(Client.collect)(checkDense(_, qs, None), _.length.toLong)
    busy += (System.nanoTime() - t1) / 1e6
  }

  /** The batch's ids come back with the values just written. */
  private def verifyBatch(docs: Seq[Doc]): Unit = {
    val got = coll.queryByIds(docs.map(_.id), Seq("id", "text", "tag", "page")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val want = docs.map(d => (d.id, d.text, d.tag, d.page)).toSet
    client.verify("upsert read-back")(
      if (got == want) None else Some(s"${(want -- got).size} of ${docs.size} batch rows not read back"))
  }

  /** One compaction cycle: `compactEvery` upserts, the last compacting. */
  def cycle: Int = compactEvery
  /** A whole cycle, so the compacting upsert's path is warm too. */
  override def warmUp(): Unit = (1 to cycle).foreach(_ => step())
  def primary: Seq[Double] = upsertMs.toSeq
  def docs: Long = ingested
  def busyMs: Double = busy
  def compactionCount: Int = compactions
  def resetMeasures(): Unit = {
    upsertMs.clear(); ingested = 0; busy = 0; recalls.clear(); compactions = 0
  }
}

/** `curate`: the batch curation pipeline over a seeded corpus with
  * planted exact duplicates, near duplicates and junk documents. One
  * step is one full pass; each stage is one request, materialized on
  * its own and persisted for the next stage. */
final class Curate(spark: SparkSession, gen: Gen, client: Client, n: Int) extends Workload {
  import Curate._

  private var corpus: DataFrame = _
  private var reference: DataFrame = _
  private var target: DataFrame = _
  private var inputIds: Set[String] = Set.empty
  private var exactGroups: Seq[Seq[String]] = Nil
  private var nearGroups: Seq[Seq[String]] = Nil
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val collapsed = mutable.ArrayBuffer.empty[Double]
  private var curated = 0L
  private var keptShare = Map.empty[String, Double]

  def setup(root: Path): Unit = {
    Seq(corpus, reference, target).filter(_ != null).foreach(_.unpersist(blocking = true))
    val base = gen.docs("corpus", n, _.toString)
    val r = gen.stream("plants")
    val exact = (0 until n / 20).map { i =>
      val src = base(r.nextInt(n))
      src -> src.copy(id = (DupIds + i).toString, tag = s"t${r.nextInt(Gen.Tags)}")
    }
    val near = (0 until n / 20).map { i =>
      val src = base(r.nextInt(n))
      val toks = src.text.split(" ")
      (0 until 2).foreach(_ => toks(r.nextInt(toks.length)) = gen.word(r))
      src -> src.copy(id = (NearIds + i).toString, text = toks.mkString(" "),
        vector = gen.jitter(r, src.vector))
    }
    val junk = (0 until n / 50).map { i =>
      gen.doc(r, (JunkIds + i).toString).copy(
        text = Seq.fill(Gen.DocTokens)(Gen.Vocab(r.nextInt(Gen.VocabSize))).mkString(" "))
    }
    val all = base ++ exact.map(_._2) ++ near.map(_._2) ++ junk
    inputIds = all.map(_.id).toSet
    exactGroups = exact.groupBy(_._1.text).values.map(g => (g.head._1.id +: g.map(_._2.id)).distinct).toSeq
    nearGroups = near.map { case (s, d) => Seq(s.id, d.id) }
    corpus = Gen.numericFrame(spark, all).persist(StorageLevel.MEMORY_ONLY)
    reference = Gen.numericFrame(spark, gen.docs("reference", n / 2, _.toString)).select("id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    target = Gen.numericFrame(spark, gen.docs("target", n / 4, _.toString)).select("id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    Seq(corpus, reference, target).foreach(Client.noop)
  }

  /** One stage: the module call builds the frame, a noop write
    * materializes it into the cache the next stage reads. */
  private def stage(op: String)(build: => DataFrame): Option[DataFrame] =
    client.request(op) { build.persist(StorageLevel.MEMORY_ONLY) } { df => Client.noop(df); df }(
      _ => None)

  /** Passes over a fifth of the corpus: the same plans, compiled and
    * warmed at a fraction of a full pass's cost. */
  override def warmUp(): Unit = (1 to 2).foreach(_ => pass(corpus.where(pmod(col("id"), lit(5L)) === 0)))

  def step(): Unit = pass(corpus)

  private def pass(corpus: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val made = mutable.ArrayBuffer.empty[DataFrame]
    def keep(o: Option[DataFrame]): Option[DataFrame] = { o.foreach(made += _); o }
    val out = for {
      q <- keep(stage("quality") {
        graft.text.TextAnalysis.quality(corpus, "id", "text", keep = Seq("text", "tag", "vector"))
          .where(col("quality") >= MinQuality)
      })
      d <- keep(stage("exact_dedup") {
        q.join(graft.dedup.Dedup.exact(q, "id", "text").select(col("keep_id").as("id")),
          Seq("id"), "left_semi")
      })
      pairs <- keep(stage("minhash") {
        graft.dedup.Dedup.minhashLshFromSignatures(
          graft.dedup.Dedup.minhashSignatures(d, "id", "text"), threshold = NearJaccard)
      })
      fluent <- keep(stage("lm") {
        val model = graft.text.NgramLm.train3(reference, "id", "text")
        d.join(graft.text.NgramLm.score3(d, "id", "text", model).where(col("nll") <= MaxNll)
          .select("id"), Seq("id"), "left_semi")
      })
      weighted <- keep(stage("dsir") {
        val model = graft.ops.Dsir.fit(target, fluent, "id", "text")
        graft.ops.Dsir.weights(fluent, "id", "text", model)
      })
      kept <- keep(stage("semdedup") {
        graft.dedup.Dedup.semDedup(fluent.select("id", "vector"), "id", "vector", eps = SemEps)
      })
      set <- client.request("training_set")(graft.ops.Curation.buildTrainingSet(
          fluent.join(kept.select(col("doc_id").as("id")), Seq("id"), "left_semi")
            .join(weighted.where(col("logw") >= MinLogw).select("id"), Seq("id"), "left_semi"),
          "id", "text", "tag", nShards = 8, nearDupPairs = Some(pairs)))(Client.collect)(
        checkOutput, _.length.toLong)
    } yield set
    made.foreach(_.unpersist(blocking = true))
    if (out.isDefined) {
      passMs += (System.nanoTime() - t0) / 1e6
      curated += inputIds.size
    }
  }

  private def checkOutput(rows: Array[Row]): Option[String] = {
    val ids = rows.map(_.get(0).toString)
    val idSet = ids.toSet
    val twice = ids.length - idSet.size
    val foreign = idSet -- inputIds
    val kept = exactGroups.find(_.count(idSet.contains) > 1)
    collapsed += nearGroups.count(_.count(idSet.contains) <= 1).toDouble / nearGroups.size
    keptShare = Map(
      "curate.kept_share" -> idSet.size.toDouble / inputIds.size,
      "curate.junk_kept_share" -> idSet.count(_.toLong >= JunkIds).toDouble / (n / 50))
    if (twice > 0) Some(s"$twice output ids repeat")
    else if (foreign.nonEmpty) Some(s"${foreign.size} output ids are not input ids")
    else kept.map(g => s"exact duplicates ${g.mkString(", ")} both survived")
  }

  def cycle: Int = 1
  def primary: Seq[Double] = passMs.toSeq
  def docs: Long = curated
  def busyMs: Double = passMs.sum
  /** Share of planted near-duplicate pairs the pipeline collapsed. */
  def recall: Double = if (collapsed.isEmpty) 0.0 else Stats.mean(collapsed.toSeq)
  def finalChecks(): Unit = ()
  def layerExtras: Map[String, Double] = keptShare + ("catalog.bytes_per_user_byte" -> 0.0)
  def resetMeasures(): Unit = { passMs.clear(); collapsed.clear(); curated = 0 }
}

object Curate {
  val DupIds = 1000000
  val NearIds = 2000000
  val JunkIds = 3000000
  val MinQuality = 0.3
  val NearJaccard = 0.5
  val MaxNll = 9.0
  val MinLogw = -1000.0
  val SemEps = 0.98
}

/** Files under a catalog root, read from outside the program. */
object Catalog {
  def files(root: Path): Map[String, Long] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally walk.close()
  }

  def bytes(root: Path): Long = files(root).values.sum
}
