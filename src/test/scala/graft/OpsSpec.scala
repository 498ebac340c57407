package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.DocumentOps
import graft.text.TextAnalysis
import graft.vector.{IvfIndex, LshIndex}

class DocumentOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L), (4L, "c", 40L)
  ).toDF("id", "tag", "n")

  test("upsert is last-wins by id and appends new ids") {
    val updates = Seq((2L, "B", 99L), (5L, "e", 50L)).toDF("id", "tag", "n")
    val out = DocumentOps.upsert(docs, updates, "id")
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 10L), (2L, "B", 99L), (3L, "a", 30L), (4L, "c", 40L), (5L, "e", 50L)))
  }

  test("delete with limit removes first matches by id") {
    val out = DocumentOps.delete(docs, "id", """tag = "a"""", limit = Some(1))
      .select("id").as[Long].collect().toSeq.sorted
    assert(out == Seq(2L, 3L, 4L))
  }

  test("update sets fields only on matching rows") {
    val out = DocumentOps.update(docs, "n >= 30", Map("tag" -> lit("z")))
      .orderBy("id").select("tag").as[String].collect().toSeq
    assert(out == Seq("a", "b", "z", "z"))
  }

  test("query paginates deterministically") {
    val out = DocumentOps.query(docs, sort = Seq(("n", false)), limit = Some(2), offset = 1)
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(3L, 2L))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words appear here today now"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("semDedup collapses duplicate groups to the most atypical member") {
    // a=(1,0) and c=(1,0) are exact dups; b at ~15 degrees pairs with
    // both at eps=0.9; d=(-1,0.2) pulls the corpus MEAN to ~13 degrees,
    // so within the ONE component {a,b,c} the centroid-nearest member
    // is b (cos ~0.999) and the LOWEST-centroid-cosine members are the
    // a/c twins (~0.974) — the paper's diversity-preserving choice
    // keeps one of THOSE (tie -> min id 1); d is far away and survives
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.966, 0.259)), (3L, Seq(1.0, 0.0)),
      (4L, Seq(-1.0, 0.2))
    ).toDF("vec_id", "embedding")
    val out = graft.dedup.Dedup.semDedup(vecs, "vec_id", "embedding",
      eps = 0.9, nclusters = 1).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L))
    // cluster pruning keeps exact-dup collapse (dups share a cell)
    val out2 = graft.dedup.Dedup.semDedup(vecs, "vec_id", "embedding",
      eps = 0.9, nclusters = 2).collect().map(_.getLong(0)).toSet
    assert(out2.contains(4L) && !(out2.contains(1L) && out2.contains(3L)),
      s"exact dups must not both survive: $out2")
  }

  test("semDedup maxCellSize caps pair-join groups on a skewed corpus") {
    // a deliberately skewed corpus: 60 vectors in one tight cone (all
    // land in one k-means cell) + 10 planted exact-duplicate pairs
    // inside the cone. Uncapped, the hot cell contributes 80² pair
    // work; capped at 12, every refined group must come in under the
    // cap while the planted duplicates still collapse (exact dups are
    // unsplittable by hyperplane bits by construction).
    val rnd = new scala.util.Random(7)
    val cone = (0 until 60).map { i =>
      (100L + i, Seq(10.0 + rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble()))
    }
    val dups = (0 until 10).flatMap { i =>
      val v = Seq(10.0 + rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble())
      Seq((500L + 2 * i, v), (500L + 2 * i + 1, v))
    }
    val far = Seq((900L, Seq(-5.0, 8.0, 0.0)), (901L, Seq(0.0, -9.0, 3.0)))
    val vecs = (cone ++ dups ++ far).toDF("vec_id", "embedding")

    // the cap machinery itself: no (cell, sub) group above the cap
    val assigned = vecs
      .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("__v"))
      .withColumn("__cell", lit(0))
    val capped = graft.dedup.Dedup.capCells(assigned, "__v", cap = 12, seed = 42L)
    val maxGroup = capped.groupBy("__cell", "__sub").count()
      .agg(max("count")).head().getLong(0)
    assert(maxGroup <= 12, s"a refined group still holds $maxGroup rows")
    // exact duplicates always share a refined group
    val subs = capped.groupBy("doc_id").agg(first("__sub").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { i =>
      assert(subs(500L + 2 * i) == subs(500L + 2 * i + 1),
        "hyperplane bits separated an exact-duplicate pair")
    }

    // end-to-end: capped semDedup still removes every planted twin
    val out = graft.dedup.Dedup.semDedup(vecs, "vec_id", "embedding",
      eps = 0.999999, nclusters = 4, maxCellSize = 12)
      .collect().map(_.getLong(0)).toSet
    (0 until 10).foreach { i =>
      assert(!(out.contains(500L + 2 * i) && out.contains(500L + 2 * i + 1)),
        s"planted duplicate pair $i fully survived the capped run")
    }
    assert(out.contains(900L) && out.contains(901L), "far loners must survive")
  }

  test("semDedup rejects a centers artifact that contradicts nclusters") {
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.semDedup(vecs, "vec_id", "embedding", eps = 0.9,
        nclusters = 2, centers = Some(Seq((Seq(1.0, 0.0), 0))))
    }
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.semDedup(vecs, "vec_id", "embedding", eps = 0.9,
        nclusters = 1, centers = Some(Seq((Seq(1.0, 0.0), 0))))
    }
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash-lsh finds near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: est jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash hamming is 0 for identical docs") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .where($"id_a" === 1 && $"id_b" === 4).select("hamming").as[Int].collect()
    assert(out.toSeq == Seq(0))
  }
}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val queries = embs.where($"vec_id" < 4)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))

  test("ivf with nprobe=nlist equals exact knn") {
    val model = IvfIndex.train(embs, "embedding", nlist = 8)
    val ivf = IvfIndex.search(model, embs, "vec_id", "embedding",
      queries, "qid", "qvec", "l2", k = 5, nprobe = 8).collect().toSeq
    val exact = graft.vector.KnnSearch.topK(embs, "vec_id", "embedding",
      queries, "qid", "qvec", "l2", 5).collect().toSeq
    assert(ivf == exact)
  }

  test("ivf with small nprobe still finds the query itself") {
    val model = IvfIndex.train(embs, "embedding", nlist = 8)
    val res = IvfIndex.search(model, embs, "vec_id", "embedding",
      queries, "qid", "qvec", "l2", k = 1, nprobe = 1).collect()
    assert(res.forall(r => r.getLong(0) == r.getLong(2))) // top-1 is self
  }

  test("lsh ann top-1 is the query itself") {
    val res = LshIndex.ann(embs, "vec_id", "embedding", queries, "qid", "qvec", k = 3)
      .where($"rank" === 1).collect()
    assert(res.forall(r => r.getLong(0) == r.getLong(2)))
  }
}

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("chunk splitter covers the text with overlap") {
    val docs = Seq((1L, "abcdefghij" * 20, "t")).toDF("doc_id", "text", "source") // 200 chars
    val chunks = TextAnalysis.chunkSplit(docs, "doc_id", "text", "source", 80, 20)
      .orderBy("chunk_id").select("chunk").as[String].collect()
    assert(chunks.length == 4) // starts 0,60,120,180
    assert(chunks.head.startsWith("t: abcdefghij"))
    assert(chunks.head.length == 3 + 80)
    assert(chunks.last.length == 3 + 20)
    // consecutive chunks overlap by 20 chars
    assert(chunks(0).drop(3).takeRight(20) == chunks(1).drop(3).take(20))
  }

  test("fingerprint is order-sensitive") {
    val docs = Seq((1L, "ab"), (2L, "ba")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .orderBy("doc_id").select("fingerprint").as[Long].collect()
    assert(fp(0) != fp(1))
    assert(fp(0) == (97L * 31 + 98) % 1000000007) // 'a'*31 + 'b'
  }

  test("tfidfKeywords ranks corpus-rare terms above ubiquitous ones") {
    // 'common' appears in every doc (low idf); each doc has its own
    // rare term repeated twice (high tf·idf) — the rare term must rank
    // first despite 'common' having the same tf
    val docs = Seq(
      (1L, "common common apple apple"),
      (2L, "common common banana banana"),
      (3L, "common common cherry cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk")
      .select("doc_id", "rnk", "term", "tf").as[(Long, Int, String, Long)]
      .collect().toSeq
    assert(out == Seq(
      (1L, 1, "apple", 2L), (1L, 2, "common", 2L),
      (2L, 1, "banana", 2L), (2L, 2, "common", 2L),
      (3L, 1, "cherry", 2L), (3L, 2, "common", 2L)))
    // idf_micro of a df=1 term in a 3-doc corpus: round(ln(4/2)*1e6)+1e6
    val appleScore = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .where($"term" === "apple").select("score_micro").as[Long].head()
    assert(appleScore == 2L * (math.round(math.log(2.0) * 1e6) + 1000000L))
  }

  test("langLineComposition: majority, deterministic ties, agreement ratio") {
    val docs = Seq(
      // 2 English lines + 1 Spanish: majority en, agreement 2/3
      (1L, "the cat is of the mat\nthe dog is in a house\nel la de y en que"),
      // 1 en + 1 es: tie -> alphabetically first of the tied pair
      (2L, "the cat is of the mat\nel la de y en que"),
      // stopword-less single line: all-zero tie classifies 'de'
      (3L, "zzz qqq")).toDF("doc_id", "text")
    val out = TextAnalysis.langLineComposition(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "major_lang", "n_major", "agreement")
      .collect()
    assert(out(0).getLong(1) == 3 && out(0).getString(2) == "en"
      && out(0).getLong(3) == 2 && math.abs(out(0).getDouble(4) - 2.0 / 3) < 1e-12)
    assert(out(1).getString(2) == "en" && out(1).getDouble(4) == 0.5,
      s"en/es tie must break alphabetically: ${out(1)}")
    assert(out(2).getString(2) == "de" && out(2).getDouble(4) == 1.0)
  }

  test("tfidfKeywords: empty text yields no rows, k bounds output") {
    val docs = Seq((1L, ""), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
    assert(out.where($"doc_id" === 1L).count() == 0)
    assert(out.where($"doc_id" === 2L).count() == 2)
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("components merge chains and leave singletons to their own label") {
    // chain 1-2-3, pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("long chain converges within iteration bound") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select("cluster_id").distinct().as[Long].collect()
    assert(out.toSeq == Seq(1L))
  }

  test("distributed fallback above the driver gate matches the union-find labels") {
    // driverMaxEdges = 0 forces the distributed min-label loop on a
    // graph the driver path would otherwise take — labels must agree
    // exactly (min id per component, chains + pair + cross-links), for
    // long ids and for the reference's string ids (where "10" < "7")
    val longs = (Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)) ++
      (20L until 40L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val strings = longs.select(col("id_a").cast("string").as("id_a"),
      col("id_b").cast("string").as("id_b"))
    Seq[(DataFrame, Long => Any)](longs -> (i => i), strings -> (i => i.toString))
      .foreach { case (pairs, key) =>
        val fast = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
          .orderBy("doc_id").collect().toSeq
        val dist = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b",
            driverMaxEdges = 0L)
          .orderBy("doc_id").collect().toSeq
        assert(dist == fast)
        assert(fast.contains(Row(key(7L), key(1L))) && fast.contains(Row(key(40L), key(20L))))
      }
  }

  test("softDedupWeights: 1e6/|cluster| for members, 1e6 for loners") {
    // cluster {1,2,3} (size 3), pair {10,11} (size 2), loner 20
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.softDedupWeights(docs, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (10L, 10L, 2L, 500000L), (11L, 10L, 2L, 500000L),
      (20L, 20L, 1L, 1000000L)))
    // expected training mass: one doc's worth per cluster (to within
    // the floor-division micro-unit)
    val mass = out.map(_._4).sum
    assert(mass >= 3 * 1000000L - 3 && mass <= 3 * 1000000L)
  }
}
