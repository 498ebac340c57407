package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.GraftClient

/** modify_vector_index walked end-to-end across index FAMILIES
  * (reference stub.py:887 modify_vector_index): one vector index
  * exists per collection, so every flip must (a) rebuild the new
  * family's artifacts, (b) update collection meta, (c) clear the old
  * family's artifacts AND meta so no probe table can point at a stale
  * layout, and (d) flip which serving path answers. */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vector"))
  private lazy val queries = spark.read.parquet(s"$sf/embeddings.parquet")
    .where(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))

  test("index family flips: IVF -> IVF(modified) -> IVF_SQ8 -> LSH -> LSH(modified) -> HNSW -> IVF") {
    val root = Files.createTempDirectory("graft-lifecycle").toString
    val db = new GraftClient(spark, root).createDatabase("db")
    val coll = db.createCollection("v")
    coll.upsert(embs)

    // --- IVF ---
    coll.rebuildIndex(nlist = 4)
    assert(coll.describe("index.ivf.nlist") == "4")
    assert(db.listCollections().contains("v__ivf_centroids"))
    // nprobe = nlist probes every cell => matches the exact scan
    val exact = coll.search(queries, "qid", "qv", metric = "l2", limit = 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val ivfHits = coll.search(queries, "qid", "qv", metric = "l2", limit = 5,
        nprobe = Some(4))
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(ivfHits == exact)

    // --- modify params within the family ---
    coll.modifyVectorIndex(nlist = 8)
    assert(coll.describe("index.ivf.nlist") == "8")
    assert(db.collection("v__ivf_centroids").df.count() == 8)

    // --- flip to IVF_SQ8 ---
    coll.rebuildIvfSqIndex(nlist = 4)
    val m1 = coll.describe
    assert(!m1.contains("index.ivf.nlist"), "IVF meta must clear on family flip")
    assert(!db.listCollections().contains("v__ivf_centroids"),
      "IVF centroid artifact must be dropped on family flip")
    assert(m1("index.ivfsq.nlist") == "4")
    Seq("v__ivfsq_centroids", "v__ivfsq_bounds", "v__ivfsq_codes").foreach { a =>
      assert(db.listCollections().contains(a), s"missing IVF_SQ8 artifact $a")
    }
    assert(coll.searchIvfSq(queries, "qid", "qv", limit = 5, nprobe = 4)
      .count() == 15)

    // --- flip to LSH ---
    coll.rebuildLshIndex(nBits = 16, bands = 4)
    val m2 = coll.describe
    assert(!m2.contains("index.ivfsq.nlist"), "IVF_SQ8 meta must clear on family flip")
    assert(!m2.keys.exists(_.startsWith("index.ivfsq.")),
      s"every IVF_SQ8 key must clear on family flip: ${m2.keys.filter(_.startsWith("index.ivfsq."))}")
    assert(!db.listCollections().contains("v__ivfsq_codes"))
    intercept[IllegalArgumentException] {
      coll.searchIvfSq(queries, "qid", "qv", limit = 5)
    }
    assert(m2("index.lsh.nbits") == "16" && m2("index.lsh.bands") == "4")
    assert(db.listCollections().contains("v__lsh_buckets"))
    assert(coll.searchLsh(queries, "qid", "qv", limit = 5).count() > 0)

    // --- modify params within LSH: bucket table is rewritten ---
    coll.rebuildLshIndex(nBits = 32, bands = 8)
    assert(coll.describe("index.lsh.nbits") == "32")
    assert(db.collection("v__lsh_buckets").df.select("b").distinct().count() == 8)

    // --- flip to HNSW (the reference's default index type) ---
    coll.rebuildHnswIndex(m = 4, efConstruction = 16, numSegments = 2)
    val mh = coll.describe
    assert(!mh.contains("index.lsh.nbits"), "LSH meta must clear on family flip")
    assert(!db.listCollections().contains("v__lsh_buckets"))
    assert(mh("index.hnsw.m") == "4" && mh("index.hnsw.metric") == "cosine")
    assert(db.listCollections().contains("v__hnsw_graph"))
    // ef >= corpus => exhaustive certificate => equals the exact scan
    val hnswHits = coll.searchHnsw(queries, "qid", "qv", limit = 5,
        ef = Int.MaxValue, metric = Some("l2"))
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(hnswHits == exact)

    // --- certificate sidecar next to the graph, then opted out: the
    // sidecar's keys go, the graph's stay ---
    val graphMeta = coll.describe.filter(_._1.startsWith("index.hnsw."))
    coll.buildCertificateSidecar(nlist = 4)
    assert(coll.describe.contains("index.ivfsq.nlist"))
    coll.dropCertificateSidecar()
    val md = coll.describe
    assert(!md.keys.exists(_.startsWith("index.ivfsq.")),
      s"dropCertificateSidecar must clear every IVF_SQ8 key: ${md.keys.filter(_.startsWith("index.ivfsq."))}")
    assert(md.filter(_._1.startsWith("index.hnsw.")) == graphMeta,
      "dropCertificateSidecar must leave the HNSW meta alone")

    // --- flip back to IVF: HNSW cleared, IVF serves again ---
    coll.rebuildIndex(nlist = 4)
    val m3 = coll.describe
    assert(!m3.contains("index.hnsw.m"), "HNSW meta must clear on family flip")
    assert(!m3.keys.exists(_.startsWith("index.hnsw.")),
      s"every HNSW key must clear on family flip: ${m3.keys.filter(_.startsWith("index.hnsw."))}")
    assert(!db.listCollections().contains("v__hnsw_graph"))
    intercept[IllegalArgumentException] {
      coll.searchHnsw(queries, "qid", "qv", limit = 5)
    }
    val back = coll.search(queries, "qid", "qv", metric = "l2", limit = 5,
        nprobe = Some(4))
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(back == exact)
  }

  test("upsert maintains the HNSW graph incrementally (new segment, keeps serving)") {
    val root = Files.createTempDirectory("graft-hnsw-mut").toString
    val db = new GraftClient(spark, root).createDatabase("db")
    val coll = db.createCollection("w")
    coll.upsert(embs.limit(50))
    coll.rebuildHnswIndex(m = 4, efConstruction = 16, numSegments = 1)
    assert(coll.searchHnsw(queries, "qid", "qv", limit = 3).count() == 9)
    // grows the corpus 50 -> 60: the 10 new ids land in a NEW segment
    // graph; the index keeps serving and the exhaustive certificate
    // covers the post-upsert corpus
    coll.upsert(embs.limit(60))
    assert(coll.describe.contains("index.hnsw.m"),
      "HNSW must survive an upsert via segment append")
    val exact = coll.search(queries, "qid", "qv", metric = "cosine", limit = 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val hits = coll.searchHnsw(queries, "qid", "qv", limit = 5, ef = Int.MaxValue)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(hits == exact, "post-upsert exhaustive HNSW must equal the exact scan")
  }
}
