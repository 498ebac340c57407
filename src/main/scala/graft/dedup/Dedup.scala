package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.vector.VectorScore

/** Deduplication family for the LLM-data-pipeline layer: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale shapes:
  *  - exact: one hash groupBy — the minimal shuffle.
  *  - ngram Jaccard: the pair join runs on the POSTING list (shared
  *    ngram), so only docs sharing an ngram ever meet; never all-pairs.
  *  - MinHash LSH: only (band, signature)-equal docs meet; signature
  *    computation is a single groupBy with 32 min() partial aggregates.
  *  - SimHash: candidates must share one of four 16-bit blocks
  *    (pigeonhole: hamming<=3 over 64 bits ⇒ some block is equal), so
  *    the join key is a block value, not a cross product.
  *  - embedding-cosine: exact pair scan here (oracle-checked); at 100 TB
  *    the same verify step runs behind the LSH/IVF candidate generators.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest id. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "text_hash")

  /** Distinct word-ngram sets: (doc_id, g). */
  private[graft] def ngrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = s"split($textCol, ' ')"
    val parts = (1 to n).map(j => s"element_at($t, i + $j)").mkString(", ")
    docs.where(size(split(col(textCol), " ")) >= n)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(expr(
          s"transform(sequence(0, size($t) - $n), i -> concat_ws(' ', $parts))"))).as("g"))
  }

  /** n-gram Jaccard similarity join: pairs (a < b) with
    * |A∩B| / |A∪B| >= threshold over distinct word n-grams.
    *
    * `maxDf`: drop grams appearing in more than `maxDf` documents from
    * the PAIR JOIN (sizes still count every gram). A gram shared by d
    * docs contributes O(d²) join rows, so one boilerplate shingle in a
    * 100 TB corpus is the whole job's skew — the cutoff bounds per-gram
    * fanout at maxDf². Intersections lose only hot-gram overlap, so
    * estimated jaccard is a lower bound: exact for pairs whose overlap
    * is in rare grams (the near-dup signal), conservative for pairs
    * related only through boilerplate (the pairs you don't want). */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Option[Long] = None): DataFrame =
    // The posting list feeds 4 consumers (both self-join sides + the two
    // size lookups); persisting it turns 4 explode pipelines into 1
    // (measured 3x on sf0.1). At cluster scale the postings are an
    // ingest-time artifact — see [[ngramJaccardFromPostings]].
    ngramJaccardFromPostings(
      ngrams(docs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold, maxDf)

  /** [[ngramJaccard]] served from a precomputed (doc_id, g) posting
    * frame — the ingest-artifact path: signatures of the corpus are
    * derived once (and persisted, e.g. via IndexStore) and every dedup
    * run joins the stored postings instead of re-tokenizing 100 TB. */
  def ngramJaccardFromPostings(ng: DataFrame, threshold: Double = 0.5,
                               maxDf: Option[Long] = None): DataFrame = {
    val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val joinable = maxDf match {
      case None => ng
      case Some(cap) =>
        val hot = ng.groupBy("g").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("g")
        // no forced broadcast: the hot-gram COUNT is not bounded by the
        // cap (aggressive caps over template-heavy corpora can exceed
        // driver memory) — AQE picks broadcast when the set is small
        ng.join(hot, Seq("g"), "left_anti")
    }
    // Par.floor on the PROBE side only: the per-gram fanout plus the
    // (id_a, id_b) partial aggregation run pre-shuffle, and a single-
    // row-group posting artifact pins them to one task; the build side
    // stays un-floored so its broadcast estimate is untouched
    val inter = graft.ops.Par.floor(joinable, col("doc_id")).as("a")
      .join(joinable.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter") / (col("sz_a") + col("sz_b") - col("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .where(jac >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), round(jac, 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup pairs (a < b, cosine >= threshold).
    *
    * Corpus-size guard: at or below [[AllPairsGuard]] rows the exact
    * pair scan runs directly (n ≤ 20k ⇒ ≤ 2·10⁸ codegen cosines —
    * faster than generating candidates); above it the plan is the
    * LSH-candidate path ([[embedLsh]]) with exhaustive-grade bands
    * (r=2, b=32: a qualifying pair at t >= 0.45 misses all bands with
    * p ≈ 3e-8), equal results on every oracled config — so no caller
    * can reach an UNBOUNDED O(n²) cross product. Callers with high
    * thresholds should call [[embedLsh]] directly with selective bands
    * (r=8, b=8) for ~30x harder pruning. */
  def embedCosine(embs: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    // size from plan STATISTICS (no job): parquet scans report file
    // bytes; derived plans overestimate — which errs toward the LSH
    // path, the safe direction. A count() here would execute the whole
    // upstream plan once per call just to pick a strategy.
    val bytes = embs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= AllPairsGuardBytes)
      embedCosineAllPairs(embs, idCol, vecCol, threshold)
    else
      embedLsh(embs, idCol, vecCol, threshold, nBits = 64, bands = 32)
  }

  /** Largest corpus the exact all-pairs scan may plan for
    * (~20k rows of 128-dim float vectors). */
  val AllPairsGuardBytes: BigInt = BigInt(32L * 1024 * 1024)

  /** Largest near-dup edge set the connected-components driver fast
    * path may collect. The collected representation is an Array[Row]
    * of two boxed ids: SizeEstimator measures ~100 B/edge for long ids
    * and ~165 B/edge for short string ids (a 200k-edge sample), NOT
    * the 16 B/edge of a raw long payload — so 1M edges ≈ 100–165 MB
    * transient plus the collect buffers, safe on a default 4 GB
    * production driver (the r14 bound of 4M edges assumed raw-payload
    * accounting and could spike to several hundred MB). Above it the
    * distributed min-label loop runs. */
  val DriverCcMaxEdges: Long = 1024 * 1024

  /** The exhaustive all-pairs scan — the ORACLE PROBE for the LSH
    * path's band configs (tests compare [[embedLsh]] against it).
    * Deliberately not part of the production API: O(n²). */
  private[graft] def embedCosineAllPairs(embs: DataFrame, idCol: String, vecCol: String,
                                         threshold: Double): DataFrame = {
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val cos = VectorScore.cosine(col("__va"), col("__vb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("__c"))
      .where(col("__c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__c"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** The (doc_id, sig, b, v) band-bucket table of an nBits sign-LSH
    * signature — the persistable ingest artifact for embedding dedup
    * (derive once, reuse across dedup runs). Each exploded bucket row
    * carries the whole 64-bit signature `sig` (ONE long), from which
    * the candidate join re-derives every band value — r14 stored the
    * full band-value ARRAY per row instead, inflating a persisted,
    * scanned, shuffled artifact O(bands²) per doc (~160 B/row in
    * unsafe-row format at bands=16 vs 28 B now; guide §2.3 — shuffle
    * fewer bytes). `sig`'s column METADATA records (nbits, bands) so a
    * consumer joining with a different band count fails loudly instead
    * of silently dropping pairs (the firstSharedBand contract);
    * Spark schema metadata survives the parquet round trip. */
  private[graft] def lshBandBuckets(embs: DataFrame, idCol: String, vecCol: String,
                                    nBits: Int, bands: Int, seed: Long): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val dim = graft.vector.LshIndex.deriveDim((embs, vecCol))
    val sig = graft.vector.LshIndex.withSignature(
      embs.select(col(idCol).as("doc_id"), col(vecCol).as("__v")), "__v", nBits, dim, seed)
    // band values derive from the sig LONG above the Generate, never
    // below it: the signature expression embeds nBits x dim plane
    // literals, and fusing a retained alias of it into the Generate
    // stage doubles that tree in the generated code (janino OOMs
    // compiling it at nBits = 64); sig-the-column is one long, and
    // 2·bands shifts per exploded row are noise.
    val bandVals = array((0 until bands).map(bnd =>
      shiftright(col("sig"), bnd * bandBits).bitwiseAND(mask)): _*)
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("nbits", nBits.toLong).putLong("bands", bands.toLong).build()
    sig.select(col("doc_id"), col("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(bandVals).as(Seq("b", "v")))
      .select(col("doc_id"), col("sig").as("sig", sigMeta), col("b"), col("v"))
  }

  /** LSH candidate pairs: docs sharing at least one `bandBits`-bit band
    * of an nBits sign-LSH signature. Ids ONLY cross the distinct —
    * vectors are re-attached by join afterwards. */
  private[graft] def lshCandidates(embs: DataFrame, idCol: String, vecCol: String,
                                   nBits: Int, bands: Int, seed: Long): DataFrame =
    lshCandidatesFromBuckets(
      lshBandBuckets(embs, idCol, vecCol, nBits, bands, seed), bands)

  /** [[lshCandidates]] over a precomputed (persisted) band-bucket
    * table (doc_id, sig, b, v — see [[lshBandBuckets]]).
    *
    * A pair colliding on k >= 1 bands used to surface k times and
    * collapse through a distinct — a shuffle + hash aggregate over
    * every DUPLICATED pair (r14 measured 8.1M fanout rows -> 2.0M
    * pairs at sf0.1, and the aggregation dominated the query). A pair
    * is emitted ONLY from its first shared band (the smallest i whose
    * band values — re-derived from both sides' `sig` longs by
    * shift-and-mask, pure codegen — agree), which is the identical
    * distinct pair set with zero exchanges; Par.floor spreads the
    * fanout across cores where the single-row-group artifact scan
    * would pin it to one task.
    *
    * The band GEOMETRY comes from the bucket table's own sig metadata
    * ([[lshBandBuckets]]); `bands` is cross-checked against it, so a
    * caller pairing a bucket table with the wrong band count fails
    * loudly instead of silently dropping pairs whose only shared band
    * lies past the smaller count. */
  private[graft] def lshCandidatesFromBuckets(buckets: DataFrame,
                                              bands: Int): DataFrame = {
    val meta = buckets.schema("sig").metadata
    require(meta.contains("nbits") && meta.contains("bands"),
      "bucket table has no band geometry metadata: rebuild it with lshBandBuckets")
    require(meta.getLong("bands") == bands.toLong,
      s"bucket table was built with bands=${meta.getLong("bands")}, caller asked for $bands")
    val nBits = meta.getLong("nbits").toInt
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val bl = graft.ops.Par.floor(buckets, col("doc_id"))
    bl.as("x").join(bl.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .where(col("x.b") === firstSharedSigBand(bands, bandBits, mask))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  /** First band index i < `bands` where the joined sides' signatures
    * (aliases x/y) agree on the band's bit slice, else the sentinel
    * `bands`. A static when-chain over shift-and-mask comparisons:
    * pure whole-stage codegen with first-match short-circuit, where a
    * higher-order aggregate over arrays is CodegenFallback — a per-row
    * interpreter walk (plus allocations) on the FULL multi-band
    * fanout, the hottest row stream in the dedup family. */
  private def firstSharedSigBand(bands: Int, bandBits: Int, mask: Long): Column =
    (0 until bands).foldRight(lit(bands).cast("int")) { (i, acc) =>
      when(shiftright(col("x.sig"), i * bandBits).bitwiseAND(mask) ===
           shiftright(col("y.sig"), i * bandBits).bitwiseAND(mask),
        lit(i)).otherwise(acc)
    }

  /** The minhash candidates' first-shared-band device over carried
    * band-value ARRAYS (aliases x/y with an `__vs` column) — the
    * in-memory twin of [[firstSharedSigBand]] for signatures that are
    * not one packed long (minhash keeps per-band xxhash64 values). */
  private def firstSharedBand(bands: Int): Column =
    (0 until bands).foldRight(lit(bands).cast("int")) { (i, acc) =>
      when(element_at(col("x.__vs"), i + 1) ===
           element_at(col("y.__vs"), i + 1), lit(i)).otherwise(acc)
    }

  /** Embedding-cosine near-dup with LSH candidate generation composed in
    * front of the exact verify — the scale path for [[embedCosine]]:
    * only pairs sharing a signature band are ever scored, so the join is
    * band-bucketed, never an all-pairs cross product.
    *
    * Band math: a pair at cosine t collides on one r-bit band with
    * p = (1 - acos(t)/π)^r; the miss probability over b bands is
    * (1-p)^b. Pick r large for high thresholds (strong pruning: random
    * pairs collide at 2^-r per band) and b so the miss probability is
    * negligible at the target threshold. The defaults (r=2, b=32) are
    * exhaustive-grade for thresholds as low as 0.45 (miss ≈ 3e-8 per
    * qualifying pair) at the cost of weak pruning; production near-dup
    * thresholds (>= 0.8) should use r=8, b=8 (miss ≈ 1e-3 per pair,
    * random-pair candidate rate 8·2^-8 ≈ 3%). */
  def embedLsh(embs: DataFrame, idCol: String, vecCol: String, threshold: Double,
               nBits: Int = 64, bands: Int = 32, seed: Long = 42L): DataFrame =
    embedLshFromBuckets(lshBandBuckets(embs, idCol, vecCol, nBits, bands, seed),
      embs, idCol, vecCol, threshold, bands)

  /** [[embedLsh]] served from a precomputed (doc_id, b, v) band-bucket
    * table (see [[lshBandBuckets]]) — the ingest-artifact path: the
    * O(corpus · nBits) signature pass is persisted once; every dedup
    * run pays only the bucket self-join + exact verify. */
  def embedLshFromBuckets(buckets: DataFrame, embs: DataFrame, idCol: String,
                          vecCol: String, threshold: Double,
                          bands: Int = 16): DataFrame = {
    // candidates dedup on ids BEFORE vectors are attached (a pair
    // surfaces from ~b·p^r bands; scoring the duplicates instead
    // measured 2x slower than the ids-only distinct), then the exact
    // verify joins the (tiny at high thresholds, broadcastable here)
    // vector table back on each side. `bands` is REQUIRED to match the
    // bucket table's own metadata (lshCandidatesFromBuckets fails
    // loudly on a mismatch).
    val cand = lshCandidatesFromBuckets(buckets, bands)
    val vecs = embs.select(col(idCol).as("__id"), col(vecCol).as("__vec"))
    val cos = VectorScore.cosine(col("__va"), col("__vb"))
    cand
      .join(vecs.select(col("__id").as("id_a"), col("__vec").as("__va")), "id_a")
      .join(vecs.select(col("__id").as("id_b"), col("__vec").as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"), cos.as("__c"))
      .where(col("__c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__c"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Connected components over near-dup pairs: assigns every involved
    * doc the smallest doc_id of its component (the canonical survivor).
    * Works for any orderable id type (the reference keys documents by
    * string). Small edge sets run union-find on the driver; larger ones
    * (or id types without a driver ordering that agrees with Spark's)
    * run min-label propagation to fixpoint — each iteration is one
    * join + one min-aggregate, the standard scalable CC shape
    * (components from dedup are tiny, so convergence is 1–2 rounds;
    * diameter bounds the worst case). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          numPartitions: Option[Int] = None,
                          driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val edgesPlain = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    driverComponents(edgesPlain, driverMaxEdges)
      .getOrElse(distributedComponents(edgesPlain, maxIter, numPartitions))
  }

  /** Driver ordering of external id values that agrees with Spark's
    * `min` on `dt`: strings compare as UTF-8 bytes (Spark's binary
    * collation, not Java's UTF-16 `compareTo`), the other listed types
    * by their natural order. `None` (floating point, binary, nested)
    * leaves the type to the distributed loop. */
  private def driverOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case StringType => Some(Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String])))
      case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType =>
        Some((a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b))
      case _ => None
    }
  }

  /** SMALL-graph fast path: near-dup edge sets are usually tiny
    * (hundreds of pairs on the test corpora), but the distributed
    * fixpoint pays 2+ scheduled jobs PER ROUND (checkpoint +
    * convergence check) — ~1.8s of pure job latency for a 144-edge
    * graph. Under the bound a single bounded collect (the
    * calibrateNprobe / MMR-pool discipline: size-gated, loud, with the
    * distributed loop as the at-scale fallback) runs union-find on the
    * driver and returns a local relation the callers broadcast anyway.
    * Min-label semantics identical: every node maps to its component's
    * smallest id. ONE job decides the gate AND fetches the edges:
    * limit(bound + 1).collect() — a full count + checkpoint + collect
    * ladder paid 3 scheduled jobs for the same information (r14's
    * shape). `None` when the sample overflows (its arbitrary rows are
    * discarded and the distributed path recomputes from the plain
    * plan) or the id type has no driver ordering. */
  private def driverComponents(edges: DataFrame, bound: Long): Option[DataFrame] = {
    val idType = edges.schema("src").dataType
    driverOrdering(idType).filter(_ => bound > 0).flatMap { ord =>
      val sample = edges.limit(bound.toInt + 1).collect()
      if (sample.length > bound) None
      else {
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
          }
          r
        }
        val nodes = new java.util.LinkedHashSet[Any]()
        sample.foreach { e =>
          val (a, b) = (e.get(0), e.get(1))
          nodes.add(a); nodes.add(b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(ord.max(ra, rb), ord.min(ra, rb))
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
        nodes.forEach(id => out.add(org.apache.spark.sql.Row(id, find(id))))
        import org.apache.spark.sql.types.{StructField, StructType}
        Some(edges.sparkSession.createDataFrame(out, StructType(Seq(
          StructField("doc_id", idType, nullable = false),
          StructField("cluster_id", idType, nullable = false)))))
      }
    }
  }

  /** Distributed min-label fixpoint: localCheckpoint (eager) resets the
    * plan to a leaf (caching alone keeps the join-of-joins lineage
    * growing per iteration; on a cluster: reliable checkpoint dir
    * instead). The edge set is orders of magnitude smaller than the
    * corpus — shrink its partitioning so each propagation round is a
    * handful of tasks; width derives from the MEASURED edge count (~1M
    * edges per task), so a laptop edge set is one task and a 100 TB
    * corpus's pair list still spreads — not a local[32] hardcode. */
  private def distributedComponents(edgesPlain: DataFrame, maxIter: Int,
                                    numPartitions: Option[Int]): DataFrame = {
    val edges0 = edgesPlain.localCheckpoint(true)
    val edgeCount = edges0.count()
    val parts = numPartitions.getOrElse(
      math.min(2000L, edgeCount / 1000000L + 1L).toInt)
    val edges =
      if (parts < edges0.rdd.getNumPartitions) edges0.coalesce(parts).localCheckpoint(true)
      else edges0
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    val noLabel = lit(null).cast(edges.schema("src").dataType)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      // each id carries its previous label next to the new minimum, so
      // a round converged exactly when no label dropped — an exact test
      // for any orderable id type, in the aggregate the round runs anyway
      val next = labels.withColumn("prev", col("label"))
        .unionAll(prop.withColumn("prev", noLabel))
        .groupBy("id").agg(min("label").as("label"), max("prev").as("prev"))
        .localCheckpoint(true)
      converged = next.where(col("label") < col("prev")).isEmpty
      labels = next.drop("prev")
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup cluster COLLAPSE: one surviving representative per
    * connected component of the near-dup pair graph — the step that
    * turns a pair/cluster REPORT into an actually-deduplicated corpus
    * (exact dedup removes byte-identical docs; this removes the
    * near-identical ones the minhash/simhash/embedding families find).
    *
    * Representative = highest `scoreCol` in the component, ties broken
    * by lowest id, so a quality-scored corpus keeps its best-written
    * duplicate rather than an arbitrary one. Docs in no pair survive
    * untouched with themselves as cluster.
    *
    * Scale shape: components run over the EDGE list only (near-dup
    * survivors — orders of magnitude smaller than the corpus); the
    * rank-and-keep window shuffles only the CLUSTERED docs; untouched
    * docs flow through a single anti-join against the (small) component
    * map, broadcast under AQE. The corpus is never globally sorted or
    * windowed. */
  def clusterRepresentatives(docs: DataFrame, idCol: String, scoreCol: String,
                             pairs: DataFrame,
                             aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("doc_id").as("__cdoc"), col("cluster_id"))
    val clustered = docs.join(comp, docs(idCol) === col("__cdoc")).drop("__cdoc")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val reps = clustered.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    val loners = docs.join(comp, docs(idCol) === col("__cdoc"), "left_anti")
      .withColumn("cluster_id", col(idCol))
    reps.unionByName(loners)
  }

  /** Soft deduplication — DOWNWEIGHT duplicated content instead of
    * dropping it (the SoftDeDup idea, He et al. 2024: reweighting by
    * data commonness preserves corpus coverage while removing the
    * training-mass distortion of repeated text; SlimPajama-style hard
    * collapse is [[clusterRepresentatives]]). Every document survives
    * with a sampling weight that makes each near-dup cluster contribute
    * ONE document's worth of expected training mass:
    *
    *   weight = 1 / |cluster|   (1.0 for docs in no near-dup pair)
    *
    * The weight is emitted as an integer MICRO-weight (⌊10⁶/|cluster|⌋,
    * BIGINT) — the same engine-reproducible discipline as the LM
    * micro-nats: pure integer floor division, nothing two engines can
    * round differently. Feed `weight_micro` to
    * [[graft.ops.Curation.weightedSample]]-style samplers or a loss
    * scaler; `sum(weight_micro)/10⁶` is the effective deduplicated
    * corpus size.
    *
    * Scale shape: components run over the near-dup EDGE list only;
    * cluster sizes are one groupBy over the component map (near-dup
    * survivors, orders of magnitude smaller than the corpus); the
    * corpus itself takes one broadcast-sized left join — never sorted,
    * never windowed, text never shuffles. */
  def softDedupWeights(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("doc_id").as("__cdoc"), col("cluster_id"))
    val sized = comp.join(
      comp.groupBy("cluster_id").agg(count(lit(1)).as("__csz")), "cluster_id")
    docs.select(col(idCol))
      .join(sized, docs(idCol) === col("__cdoc"), "left")
      .select(
        col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        coalesce(col("__csz"), lit(1L)).as("cluster_size"),
        expr("CAST(1000000 DIV coalesce(__csz, 1) AS BIGINT)")
          .as("weight_micro"))
  }

  /** SemDeDup (Abbas et al. 2023) — SEMANTIC dedup by embedding
    * clusters: k-means cells bound the pairwise work, within-cell
    * pairs at cosine ≥ `eps` form duplicate groups, and each group
    * keeps the member with the LOWEST cosine to its cell centroid
    * (the paper's diversity-preserving choice — near-dups collapse to
    * their most atypical representative). Returns the surviving
    * doc_ids.
    *
    * Scale shape: the clustering is the pruning device — pairwise
    * cosine runs per-CELL (corpus²/nclusters in expectation; at 100 TB
    * `nclusters` in the tens of thousands is the paper's own setting),
    * components run over the qualifying pairs only, and the
    * centroid-proximity scores are one projection against the
    * broadcast centroid table. `nclusters = 1` is the exhaustive twin:
    * within-cell = all-pairs, the centroid is the corpus mean, and the
    * result is DuckDB-oracle-checkable end-to-end (q_semdedup).
    * `maxCellSize` caps the pair-join group size: corpus²/k holds only
    * in expectation, and one hot cluster degrades toward n² — capped
    * cells are recursively bisected by mean-centered random-hyperplane
    * splits ([[capCells]]) so no join group exceeds the cap (exact
    * duplicates are unsplittable by construction and always compared).
    *
    * Engine-parity notes: centroids are computed as exact DECIMAL
    * per-dimension sums cast to double before the one division (double
    * summation is order-dependent across engines; decimal is not), and
    * the representative choice ranks round(cosine, 4) with id
    * tie-break — the same ranking discipline as every oracled score
    * query here. */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
               eps: Double, nclusters: Int = 16, seed: Long = 42L,
               maxIter: Int = 10,
               centers: Option[Seq[(Seq[Double], Int)]] = None,
               maxCellSize: Int = Int.MaxValue,
               assignMargin: Double = 0.0): DataFrame = {
    val (withCell, cents, pairs) = semDedupFrames(embs, idCol, vecCol, eps,
      nclusters, seed, maxIter, centers, maxCellSize, assignMargin)
    // keep the LOWEST centroid similarity => rank by its negation
    val scored = withCell.join(broadcast(cents), Seq("__cell"))
      .select(col("doc_id"),
        (-round(graft.vector.VectorScore.cosine(col("__v"), col("__cent")), 4))
          .as("__negcos"))
    clusterRepresentatives(scored, "doc_id", "__negcos", pairs)
      .select("doc_id").orderBy("doc_id")
  }

  /** The qualifying (id_a, id_b) pair stream a semDedup config finds —
    * exposed so RecallProbe can grade a production config's PAIR RECALL
    * against the `nclusters = 1` exhaustive twin (cells legitimately
    * drop cross-cell pairs; this measures how many). */
  private[graft] def semDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                                   eps: Double, nclusters: Int = 16,
                                   seed: Long = 42L, maxIter: Int = 10,
                                   centers: Option[Seq[(Seq[Double], Int)]] = None,
                                   maxCellSize: Int = Int.MaxValue,
                                   assignMargin: Double = 0.0): DataFrame =
    semDedupFrames(embs, idCol, vecCol, eps, nclusters, seed, maxIter,
      centers, maxCellSize, assignMargin)._3

  /** Pair-generation WORK a semDedup config pays — the row count of
    * the self-join's input groups summed over group² (the quantity the
    * cell cap bounds and multi-assign inflates): Σ_g |g|·(|g|−1)/2.
    * Exposed so RecallProbe can report multi-assign's measured pair
    * inflation next to its recall gain. */
  private[graft] def semDedupPairWork(embs: DataFrame, idCol: String,
      vecCol: String, nclusters: Int, seed: Long = 42L, maxIter: Int = 10,
      maxCellSize: Int = Int.MaxValue, assignMargin: Double = 0.0): Long = {
    val (_, _, pairSrc, pairKey, _) = semDedupAll(embs, idCol, vecCol,
      nclusters, seed, maxIter, None, maxCellSize, assignMargin)
    pairSrc.groupBy(pairKey.map(col): _*).count()
      // n·(n−1) is even, so DIV 2 on the long product is exact;
      // coalesce: sum over ZERO groups (empty/all-null-vector input)
      // is NULL, and getLong would NPE instead of reporting 0 work
      .select(coalesce(sum(expr("count * (count - 1) DIV 2")), lit(0L))
        .cast("long"))
      .head().getLong(0)
  }

  /** (cell-assigned rows, per-cell centroids, qualifying pairs) —
    * [[semDedup]]'s internals, shared with [[semDedupPairs]]. */
  private def semDedupFrames(embs: DataFrame, idCol: String, vecCol: String,
               eps: Double, nclusters: Int, seed: Long,
               maxIter: Int,
               centers: Option[Seq[(Seq[Double], Int)]],
               maxCellSize: Int,
               assignMargin: Double): (DataFrame, DataFrame, DataFrame) = {
    val (withCell, cents, pairSrc, pairKey, multi) = semDedupAll(embs, idCol,
      vecCol, nclusters, seed, maxIter, centers, maxCellSize, assignMargin)
    val b = pairSrc.select(pairKey.map(col) :+ col("doc_id").as("id_b") :+
      col("__v").as("__vb"): _*)
    val pairs0 = pairSrc
      .select(pairKey.map(col) :+ col("doc_id").as("id_a") :+ col("__v").as("__va"): _*)
      .join(b, pairKey)
      .where(col("id_a") < col("id_b") &&
        graft.vector.VectorScore.cosine(col("__va"), col("__vb")) >= eps)
      .select("id_a", "id_b")
    // multi-assign can surface one pair in BOTH shared cells — dedup
    // the bounded pair stream (single-assign keeps its original plan)
    val pairs = if (multi) pairs0.distinct() else pairs0
    (withCell, cents, pairs)
  }

  /** The shared assignment/refinement stage:
    * (primary-cell rows, per-cell centroids, pair-join source, pair-join
    * key, multi-assign?). `assignMargin > 0` turns on MULTI-CELL
    * assignment for PAIR GENERATION only (the IVF multi-probe analog,
    * SemDeDup's boundary-pair fix): a row also lands in its
    * SECOND-nearest cell when that centroid is nearly as close as the
    * winner (L2 within (1+margin)·d_best — scale-free, and a row AT a
    * centroid never duplicates), so an eps-pair straddling a cell
    * boundary gets a second chance to co-occur. Representative scoring
    * stays on the primary cell — the dedup output keeps its form; only
    * the candidate stream widens (measured at sf0.1: ≤2× pair work at
    * margin 0.02, 3.5× at the recall-recommended margin 0.05 — the
    * RecallProbe semdedup_pairs/pairwork frontier; row inflation is
    * ≤2 by construction regardless). */
  private def semDedupAll(embs: DataFrame, idCol: String, vecCol: String,
               nclusters: Int, seed: Long, maxIter: Int,
               centers: Option[Seq[(Seq[Double], Int)]],
               maxCellSize: Int, assignMargin: Double)
      : (DataFrame, DataFrame, DataFrame, Seq[String], Boolean) = {
    require(maxCellSize >= 2, "maxCellSize must be >= 2")
    require(nclusters >= 1, "nclusters must be positive")
    require(assignMargin >= 0.0, "assignMargin must be >= 0")
    // multi-assign at nclusters = 1 would silently do nothing — the
    // same mask-a-caller-bug rule as the centers guard below
    require(assignMargin == 0.0 || nclusters > 1,
      "assignMargin is meaningless at nclusters = 1 (exhaustive mode)")
    // a centroid artifact trained with a different nlist would
    // deterministically change assignments (and results) with no error;
    // and at nclusters == 1 there is no assignment step to feed, so
    // silently ignoring a supplied artifact would mask a caller bug
    require(nclusters > 1 || centers.isEmpty,
      "centers artifact is meaningless at nclusters = 1 (exhaustive mode)")
    centers.foreach(cs => require(cs.length == nclusters,
      s"centers artifact has ${cs.length} centroids but nclusters = $nclusters"))
    val base = embs
      .select(col(idCol).as("doc_id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
    // `centers` is the persisted-artifact path: the O(corpus) k-means
    // pass is ingest-time work (like every model here — IVF centroids,
    // PQ codebooks); a dedup RUN then only assigns + dedups
    val csOpt =
      if (nclusters == 1) None
      else Some(centers.getOrElse {
        val model = graft.vector.IvfIndex.train(base, "__v", nclusters, seed, maxIter)
        model.kmeans.clusterCenters.zipWithIndex
          .map { case (v, i) => (v.toArray.toSeq, i) }.toSeq
      })
    // eager checkpoint in every assigned branch: the frame feeds FOUR
    // consumers (centroid agg, both sides of the pair self-join, the
    // scored projection) and the k-way assignment is the dominant
    // per-row cost — without it the assignment would re-evaluate once
    // per consumer (the same reuse pattern connectedComponents
    // checkpoints for)
    val (withCell, multiSrc) = csOpt match {
      case None => (base.withColumn("__cell", lit(0)), None)
      case Some(cs) if assignMargin > 0.0 =>
        val a2 = base
          .withColumn("__a2", graft.vector.IvfIndex.assign2Expr(cs, col("__v")))
          .localCheckpoint(true)
        val d0 = col("__a2").getItem(0).getField("d")
        val d1 = col("__a2").getItem(1).getField("d")
        // primary = argmin (d, cell) — identical to assignExpr's
        // least() tiebreak, so margin = 0 reproduces single-assign
        val primary = a2.select(col("doc_id"), col("__v"),
          col("__a2").getItem(0).getField("c").as("__cell"))
        val exploded = a2.select(col("doc_id"), col("__v"),
          explode(filter(array(
            col("__a2").getItem(0).getField("c"),
            when(d1 <= d0 * (1.0 + assignMargin),
              col("__a2").getItem(1).getField("c"))),
            x => x.isNotNull)).as("__cell"))
        (primary, Some(exploded))
      case Some(cs) =>
        (base.withColumn("__cell", graft.vector.IvfIndex.assignExpr(cs, col("__v")))
          .localCheckpoint(true), None)
    }
    // per-cell mean vector, decimal-exact per dimension (order-free)
    val cents = withCell
      .select(col("__cell"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy("__cell", "pos")
      .agg((sum(col("x").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("__cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        p => p("m")).as("__cent"))
    // per-cell SIZE CAP: corpus²/k bounds the pair work only IN
    // EXPECTATION — one hot cluster (common in real embedding spaces)
    // degrades toward n² for that cell. capCells refines oversized
    // cells by centered random-hyperplane bisection until every
    // pair-join group is under the cap (the same discipline embedCosine's size
    // guard enforces globally); scoring below still uses the ORIGINAL
    // k-means centroid, so only the pair-generation key tightens.
    // Uncapped (the default, and the oracled exhaustive twin) takes
    // the untouched path.
    val pairBase = multiSrc.getOrElse(withCell)
    val (pairSrc, pairKey) =
      if (maxCellSize == Int.MaxValue) (pairBase, Seq("__cell"))
      else (capCells(pairBase, "__v", maxCellSize, seed),
        Seq("__cell", "__sub"))
    (withCell, cents, pairSrc, pairKey, multiSrc.isDefined)
  }

  /** (doc_id, pos, span) — every `n`-consecutive-sentence span of the
    * corpus, 1-based start position. The sentence convention is
    * engine-portable: '.'-delimited, trimmed, empties dropped (NULL
    * text is total — zero sentences). Shared by [[repeatedSpans]] and
    * [[stripRepeatedSpans]]. */
  private def sentenceSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        filter(transform(split(coalesce(col(textCol), lit("")), "\\."),
          x => trim(x)), x => x =!= "").as("__sents"))
      .where(size(col("__sents")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("__sents")) - (n - 1)),
        i => concat_ws(". ", slice(col("__sents"), i, lit(n))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("span"))

  /** C4's CROSS-document span dedup (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span of text
    * occurring more than once in the data set") — the
    * between-documents companion of [[dedupRepeatedBlocks]]
    * (within one doc) and [[stripBoilerplate]] (per-domain line
    * frequency). This is the REPORT: every occurrence of a span that
    * occurs ≥2 times corpus-wide, with its occurrence count and
    * whether it is the GLOBALLY FIRST occurrence (lexicographic
    * (doc_id, pos) — min(struct) on both engines), the one
    * [[stripRepeatedSpans]] lets keep its text.
    *
    * Scale shape: spans are ~one per sentence (NOT the stride-1
    * window explosion — sentences don't overlap, only spans do, n
    * rows per sentence), but span TEXT is ~3× corpus text and must
    * never be the shuffle key ([[passageRepeatsShifted]]'s hash-prune
    * device, ported here by the round-9 verdict):
    *  1. frequency over xxhash64(span) — the exchange carries 8-byte
    *     hashes, map-side-combinable; only hashes with ≥2 occurrences
    *     survive (the corpus-frequency-bounded hot set);
    *  2. spans semi-joined to the hot hashes (AQE broadcasts the
    *     sliver) regroup by TRUE span text for the exact count and the
    *     global first occurrence — a 64-bit collision can create a
    *     phase-1 candidate but never a false report row (the exact
    *     regroup re-checks n_occ ≥ 2), and a true duplicate always
    *     clears the prune for its hash. Exact at any corpus size;
    *     text shuffles only for the repeated sliver. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    require(n >= 1, "span length must be positive")
    val spans = sentenceSpans(docs, idCol, textCol, n)
    val hot = spans
      .select(xxhash64(col("span")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2)
      .select("__h")
    val sliver = spans.withColumn("__h", xxhash64(col("span")))
      .join(hot, Seq("__h"), "left_semi")
      .drop("__h")
    val dups = sliver.groupBy("span").agg(
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
      .where(col("n_occ") >= 2)
    sliver.join(dups, "span")
      .select(col("doc_id"), col("pos"), col("span"), col("n_occ"),
        (col("doc_id") === col("__first.doc_id") &&
          col("pos") === col("__first.pos")).as("is_first"))
      .orderBy("doc_id", "pos")
  }

  /** The APPLY step of [[repeatedSpans]]: reconstruct each document
    * from the sentences NOT covered by a non-first occurrence of a
    * duplicated span (the first occurrence keeps its text — C4's
    * "all but one"; a first-occurrence sentence can still drop if a
    * DIFFERENT duplicated span's non-first occurrence covers it — the
    * deterministic resolution of overlapping doom).
    *
    * Returns (doc_id, n_sentences, n_dropped, text_clean) for EVERY
    * document — text_clean is the normalized '. '-joined
    * reconstruction (the sentence convention is lossy about original
    * punctuation/whitespace by design, exactly like the line- and
    * block-level strippers), docs with fewer than `n` sentences pass
    * through with nothing dropped. */
  def stripRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    require(n >= 1, "span length must be positive")
    val sents = docs.select(col(idCol).as("doc_id"),
        filter(transform(split(coalesce(col(textCol), lit("")), "\\."),
          x => trim(x)), x => x =!= "").as("__sents"))
      .select(col("doc_id"), posexplode(col("__sents")))
      .select(col("doc_id"), (col("pos") + 1).as("sent_pos"),
        col("col").as("sentence"))
    // doomed sentence positions: covered by any NON-first duplicated
    // span occurrence (bounded: n rows per doomed span occurrence)
    val doomed = repeatedSpans(docs, idCol, textCol, n)
      .where(!col("is_first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("sent_pos"))
      .distinct()
    val kept = sents.join(doomed, Seq("doc_id", "sent_pos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("__n_kept"),
      concat_ws(". ", transform(array_sort(collect_list(
        struct(col("sent_pos"), col("sentence")))), p => p("sentence")))
        .as("text_clean"))
    // base on the full doc set: a zero-sentence doc (NULL/empty text)
    // must still report, with an empty reconstruction
    val counts = sents.groupBy("doc_id").agg(count(lit(1)).as("__ns"))
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ns"), lit(0L)).as("n_sentences"),
        (coalesce(col("__ns"), lit(0L)) - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  /** Refine oversized cells until no (cell, sub) group exceeds `cap`:
    * each round, every group still over the cap is split by a CENTERED
    * random hyperplane — project members onto a seeded direction and
    * threshold at the group's own mean projection
    * (`bit = ⟦v·plane_round ≥ mean_group⟧`). Centering is what makes
    * this work on the hot-cluster case this cap exists for: an
    * origin-through sign split (plain SimHash) separates by ANGLE, so
    * a tight cone — the typical hot embedding cluster — almost never
    * splits, while the mean threshold bisects whatever spread the
    * group has along the probe direction. Exact duplicates project
    * identically and can never be separated; such unsplittable groups
    * are exactly the ones whose pairs a dedup MUST compare, so their
    * residual over-cap mass is inherent, not a bug (the loop detects
    * the no-progress state and stops early).
    *
    * Deterministic: directions are seeded hashes, projections and
    * means are summed in DECIMAL (order-free — the same engine-parity
    * discipline as the semDedup centroids), and heap numbering
    * (root = 1, children 2s / 2s+1) keeps every split-tree node label
    * unique across depths, so a split child can never collide with a
    * group that stopped at a shallower depth. Work per round: one
    * (cell, sub) groupBy + a mean agg + an equi-join, over the
    * oversized subset only; rounds ≈ log₂(hot cell / cap).
    *
    * Returns the input plus a `__sub` refinement column (heap-numbered
    * split-tree node label; 1 for rows of never-oversized cells). */
  private[graft] def capCells(assigned: DataFrame, vecCol: String, cap: Int,
                              seed: Long, maxRounds: Int = 24): DataFrame = {
    // per-row projection folds in fixed array order (deterministic);
    // the decimal cast happens at the GROUP mean, where summation
    // order is the thing that varies across plans
    def proj(round: Int) = aggregate(
      zip_with(col(vecCol), sequence(lit(0), size(col(vecCol)) - 1),
        (x, i) => x * (pmod(xxhash64(lit(seed), lit(round), i), lit(2000))
          .cast("double") / 1000.0 - 1.0)),
      lit(0.0), (acc, y) => acc + y).cast("decimal(30,15)")
    var cur = assigned.withColumn("__sub", lit(1L))
    var round = 0
    var done = false
    var stalls = 0
    var prevState = (-1L, -1L) // (oversized groups, rows in them)
    while (round < maxRounds && !done) {
      val over = cur.groupBy("__cell", "__sub").agg(count(lit(1)).as("__n"))
        .where(col("__n") > cap).select("__cell", "__sub", "__n")
      val st = over.agg(count(lit(1)), coalesce(sum("__n"), lit(0L))).head()
      val state = (st.getLong(0), st.getLong(1))
      // two CONSECUTIVE stalled rounds before giving up: each round
      // probes an independent direction, so one zero-progress round
      // (a plane degenerate for the stalled groups) doesn't prove the
      // groups unsplittable — two different planes failing does, to
      // within anything but exact duplicates
      stalls = if (state == prevState) stalls + 1 else 0
      if (state._1 == 0L || stalls >= 2) done = true
      else {
        prevState = state
        val withDot = cur
          .join(over.withColumn("__over", lit(true)).drop("__n"),
            Seq("__cell", "__sub"), "left")
          .withColumn("__dot", when(col("__over"), proj(round)))
        val means = withDot.where(col("__over"))
          .groupBy("__cell", "__sub")
          .agg((sum(col("__dot")) / count(lit(1))).as("__mu"))
        // checkpoint each round: the refinement is iterative and the
        // lineage would otherwise re-run every prior round's join per
        // action (the connectedComponents discipline)
        cur = withDot.join(means, Seq("__cell", "__sub"), "left")
          .withColumn("__sub",
            when(col("__over"), col("__sub") * 2 +
              when(col("__dot") >= col("__mu"), 1L).otherwise(0L))
              .otherwise(col("__sub")))
          .drop("__over", "__dot", "__mu")
          .localCheckpoint(true)
        round += 1
      }
    }
    cur
  }

  // ------------------------------------------------------------- MinHash

  /** Deterministic permutation constants for minhash (seeded). */
  private def perms(numPerms: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerms)((math.abs(rnd.nextLong()) % 1000000007L + 1L,
                        math.abs(rnd.nextLong()) % 1000000007L))
  }

  /** MinHash signatures: (doc_id, m0..m{p-1}). One groupBy over the
    * shingle postings with p parallel min() aggregates. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numPerms: Int = 32,
                        seed: Long = 42L): DataFrame = {
    val ng = ngrams(docs, idCol, textCol, shingleN)
      .select(col("doc_id"), pmod(xxhash64(col("g")), lit(1000000007L)).as("h"))
    val aggs = perms(numPerms, seed).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(1000000007L))).as(s"m$i")
    }
    ng.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH near-dup pairs: band the signature, join on equal
    * (band_idx, band_hash), then estimate jaccard as the fraction of
    * equal minhash components; keep pairs >= threshold. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numPerms: Int = 32, bands: Int = 8,
                 threshold: Double = 0.5, seed: Long = 42L): DataFrame =
    minhashLshFromSignatures(
      minhashSignatures(docs, idCol, textCol, shingleN, numPerms, seed).cache(),
      numPerms, bands, threshold)

  /** (doc_id, b, h) band-bucket rows of a minhash signature frame: one
    * row per (doc, band), h = the band's combined hash. Two docs are
    * banded candidates iff they share a (b, h) row — the joinable (and
    * persistable) form of the signature: stored sorted by h, a batch of
    * incoming docs prunes the scan to its own bucket values with a
    * pushed In(h, …) filter (the minhash analog of the fulltext
    * postings' In(term, …) pruning). */
  private[graft] def minhashBandBuckets(sig: DataFrame, numPerms: Int,
                                        bands: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rowsPerBand = numPerms / bands
    val bandCols = (0 until bands).map { bnd =>
      val slice = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand).map(i => col(s"m$i"))
      struct(lit(bnd).as("b"), xxhash64(slice: _*).as("h"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.h").as("h"))
  }

  /** Banded candidate pairs from a minhash signature frame: docs whose
    * signatures agree on at least one band of `numPerms / bands`
    * contiguous components. Ids only cross the distinct. */
  private[graft] def minhashCandidates(sig: DataFrame, numPerms: Int,
                                       bands: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rowsPerBand = numPerms / bands
    // own band-array frame rather than [[minhashBandBuckets]] (whose
    // (doc_id, b, h) schema is a persisted collection format): carrying
    // every band hash as __vs lets the join emit a colliding pair
    // exactly once — at its first shared band — the shared
    // first-shared-band device ([[lshCandidatesFromBuckets]]) that
    // replaces the duplicated-pair distinct with a codegen filter.
    val bandCols = (0 until bands).map { bnd =>
      val slice = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand).map(i => col(s"m$i"))
      xxhash64(slice: _*)
    }
    val bl = graft.ops.Par.floor(
      sig.select(col("doc_id"), array(bandCols: _*).as("__vs"))
        .select(col("doc_id"), col("__vs"),
          posexplode(col("__vs")).as(Seq("b", "h"))),
      col("doc_id"))
    bl.as("x").join(bl.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .where(col("x.b") === firstSharedBand(bands))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  /** Estimated jaccard between two signature rows joined under aliases
    * `a` and `b`: the fraction of equal minhash components. */
  private[graft] def sigAgreement(numPerms: Int): Column =
    (0 until numPerms)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numPerms

  /** [[minhashLsh]] served from a precomputed signature frame
    * (doc_id, m0..m{p-1}) — the ingest-artifact path: the O(corpus)
    * shingle+min work is paid once at rebuild and persisted; every
    * dedup run reads the signature table (three scans of a (1+p)-column
    * parquet, each column-pruned) and pays only the banded join. */
  def minhashLshFromSignatures(sig: DataFrame, numPerms: Int = 32, bands: Int = 8,
                               threshold: Double = 0.5): DataFrame = {
    val cand = minhashCandidates(sig, numPerms, bands)
    cand
      .join(sig.as("a"), col("id_a") === col("a.doc_id"))
      .join(sig.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(sigAgreement(numPerms), 4).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** MinHash-LSH candidate generation composed with an EXACT n-gram
    * Jaccard verify — the minhash twin of [[embedLsh]]'s
    * candidates-then-verify shape, and like it SQL-oracle-able: the
    * verify recomputes true Jaccard from the (doc_id, g) postings, so
    * (with exhaustive-grade banding) the output equals
    * [[ngramJaccardFromPostings]] exactly while the pair join stays
    * candidate-bounded (only banded-bucket collisions are ever verified,
    * never the full posting self-join).
    *
    * Band math (r = numPerms/bands rows per band): a pair with true
    * Jaccard j agrees on one band with p = j^r, misses all bands with
    * (1-j^r)^bands. The exhaustive-grade default r=1, b=32 misses a
    * j >= 0.5 pair with p = 2^-32 ≈ 2e-10 — and docs sharing NO shingle
    * (j = 0) are never candidates, so unrelated docs never meet.
    * Production thresholds (j >= 0.8) should use r=4, b=8: random
    * low-overlap pairs (j <= 0.2) collide at ~8·0.0016 ≈ 1.3% while a
    * qualifying pair still misses at only (1-0.41)^8 ≈ 1.5%. */
  def minhashVerified(sig: DataFrame, postings: DataFrame,
                      numPerms: Int = 32, bands: Int = 32,
                      threshold: Double = 0.5): DataFrame =
    jaccardOverPairs(minhashCandidates(sig, numPerms, bands), postings, threshold)

  /** [[minhashVerified]] over a prebuilt (persisted) [[gramSets]]
    * table — the full ingest-artifact path: signatures AND verify sets
    * are both read, nothing is re-derived from text. */
  def minhashVerifiedFromSets(sig: DataFrame, sets: DataFrame,
                              numPerms: Int = 32, bands: Int = 32,
                              threshold: Double = 0.5): DataFrame =
    jaccardOverPairsFromSets(minhashCandidates(sig, numPerms, bands), sets, threshold)

  /** Exact n-gram Jaccard over a GIVEN pair list. The pair list is
    * already materialized, so the verify skips the explode→join→groupBy
    * intersection plan entirely: each doc's distinct grams collapse to
    * ONE array row, the pair list joins the (small) set table on each
    * side, and |A∩B| is a codegen [[SortedIntersectCount]] merge walk
    * per pair — no
    * posting fanout, no per-gram shuffle, no aggregation. (Measured 4x
    * over the postings-join verify at sf0.1: the fanout plan builds a
    * candidates×grams intermediate just to count it back down.) Same
    * output shape and semantics as [[ngramJaccardFromPostings]]
    * restricted to `pairs`. */
  private def jaccardOverPairs(pairs: DataFrame, ng: DataFrame,
                               threshold: Double): DataFrame = {
    // grams fold to 64-bit hashes before the arrays form: the per-pair
    // intersect then runs over primitive longs (no string hashing or
    // comparison in the hot loop), and the arrays that cross the join
    // are ~20x smaller than the gram strings. Distinct grams collide at
    // 2^-64 per in-doc pair — deterministic and beyond measurement.
    jaccardOverPairsFromSets(pairs, gramSets(ng), threshold)
  }

  /** One (doc_id, __gs) row per doc: the doc's distinct grams as a
    * sorted 64-bit hash array — the persistable VERIFY artifact (the
    * groupBy+collect pass is O(postings); persisting it lets every
    * verified-twin run skip straight to the pair join). Sorted so the
    * artifact is deterministic under parquet round-trips. */
  def gramSets(ng: DataFrame): DataFrame =
    ng.groupBy("doc_id")
      .agg(array_sort(collect_set(xxhash64(col("g")))).as("__gs"))

  /** [[jaccardOverPairs]] over a prebuilt (persisted) [[gramSets]]
    * table. The intersection count is a [[SortedIntersectCount]] merge
    * walk (gramSets arrays are sorted), and pairs are pruned by the
    * exact bound J(A,B) <= min(|A|,|B|)/max(|A|,|B|) BEFORE the walk:
    * |A∩B| <= min and |A∪B| >= max, and double division is monotone in
    * the rational it rounds, so a pair failing min/max >= t can never
    * pass the final J >= t test. The sizes are O(1) array headers, so
    * the prune costs two int reads per pair and drops ~34% of the
    * intersect work on the sf0.1 corpus (measured, VerifyPairsProfile). */
  private def jaccardOverPairsFromSets(pairs: DataFrame, sets: DataFrame,
                                       threshold: Double): DataFrame = {
    val inter = SortedIntersectCount(col("__ga"), col("__gb"))
    val jac = inter / (size(col("__ga")) + size(col("__gb")) - inter)
    val sizeRatio = least(size(col("__ga")), size(col("__gb"))).cast("double") /
      greatest(size(col("__ga")), size(col("__gb")))
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("__gs").as("__ga")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("__gs").as("__gb")), "id_b")
      .where(sizeRatio >= threshold)
      .select(col("id_a"), col("id_b"), inter.as("inter"),
        round(jac, 4).as("jaccard"), jac.as("__jac"))
      .where(col("__jac") >= threshold)
      .drop("__jac")
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per doc: bit i is the sign of Σ_tokens tf * (±1)
    * where the sign comes from bit i of xxhash64(token). */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term")).where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("tf"), xxhash64(col("term")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s$i")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce[Column](_ bitwiseOR _)
    sums.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming (<= 3):
    * by pigeonhole a qualifying pair must agree on at least one of four
    * 16-bit blocks, so candidates join on a block value. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromSignatures(
      simhashSignatures(docs, idCol, textCol).cache(), maxHamming)

  /** Block-sharing candidate pairs from a (doc_id, simhash) frame: ids
    * whose signatures agree on at least one of `blocks` contiguous
    * (64/blocks)-bit blocks. Ids ONLY cross the distinct — the banded
    * join shape shared by every candidate generator in this family. */
  private[graft] def simhashCandidates(sig: DataFrame, blocks: Int = 8): DataFrame = {
    require(blocks > 0 && 64 % blocks == 0, "blocks must divide 64")
    val bits = 64 / blocks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bl = graft.ops.Par.floor(
      sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until blocks).map(bnd =>
          struct(lit(bnd).as("b"),
            shiftright(col("simhash"), bnd * bits).bitwiseAND(mask).as("v"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.b").as("b"), col("bk.v").as("v")),
      col("doc_id"))
    // A pair sharing k >= 1 blocks used to surface from k bucket joins
    // and collapse through a distinct — a shuffle + hash aggregate over
    // EVERY duplicated pair (r14 measured 6.8M pre-distinct rows ->
    // 5.1M pairs at sf0.1: a 4.4s aggregation buying a 1.3x dedup).
    // Emitting a pair ONLY at its first shared block — the lowest zero
    // (64/blocks)-bit group of the signatures' xor, a pure codegen
    // CASE chain — yields the identical distinct pair set with zero
    // exchanges: dedup moves from an O(candidate-pairs) aggregation to
    // a per-row filter.
    val xor = col("x.simhash").bitwiseXOR(col("y.simhash"))
    val firstShared = (0 until blocks).foldRight(lit(blocks).cast("int")) {
      (bnd, acc) =>
        when(shiftright(xor, bnd * bits).bitwiseAND(mask) === 0, lit(bnd))
          .otherwise(acc)
    }
    bl.as("x").join(bl.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .where(col("x.b") === firstShared)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  /** SimHash-bucketed candidate generation composed with the EXACT
    * n-gram Jaccard verify — the simhash twin of [[minhashVerified]]:
    * approximate candidates, exact output. Only block-bucket collisions
    * are ever verified (never a posting self-join or a cross product),
    * and the verify recomputes true Jaccard from the (doc_id, g)
    * postings, so with exhaustive-grade blocking the output equals
    * [[ngramJaccardFromPostings]].
    *
    * Block math: pigeonhole GUARANTEES a shared (64/blocks)-bit block
    * only for pairs with hamming < blocks; beyond that, coverage rides
    * on near-dup simhashes being near-equal (a j >= t pair has a
    * high-cosine tf profile, so its hamming concentrates near 0). The
    * default blocks=8 (8-bit blocks, covers hamming <= 7 unconditionally)
    * is exhaustive-grade for t >= 0.5: it captures 100% of qualifying
    * pairs on every test corpus (sf0.001/0.01/0.1), where blocks=4
    * misses ~10% (qualifying pairs at hamming 4–7 that share no 16-bit
    * block). Production thresholds should use blocks=4 — the
    * [[simhashPairs]] hamming<=3 regime — whose random-pair collision
    * rate is 2^16 lower per block. */
  def simhashVerified(sig: DataFrame, postings: DataFrame,
                      blocks: Int = 8, threshold: Double = 0.5): DataFrame =
    jaccardOverPairs(simhashCandidates(sig, blocks), postings, threshold)

  /** [[simhashVerified]] over a prebuilt (persisted) [[gramSets]]
    * table (see [[minhashVerifiedFromSets]]). */
  def simhashVerifiedFromSets(sig: DataFrame, sets: DataFrame,
                              blocks: Int = 8, threshold: Double = 0.5): DataFrame =
    jaccardOverPairsFromSets(simhashCandidates(sig, blocks), sets, threshold)

  /** Cross-corpus exact dedup: rows of `corpus` whose text does NOT
    * already appear in `reference` (the re-crawl / re-ingest gate — a
    * new batch is deduplicated against everything previously accepted;
    * the reference's upsert is last-wins by ID, this is the
    * content-keyed complement across two corpora).
    *
    * Scale shape (100 TB corpus vs large reference): the reference side
    * collapses to DISTINCT md5 fingerprints once. A Bloom filter over
    * those fingerprints (built with Spark's own BloomFilterAggregate,
    * probed by the codegen BloomFilterMightContain expression — the
    * exact pair Catalyst's runtime row-level filtering uses, no UDF) is
    * broadcast as a literal, and corpus rows that MISS the bloom are
    * accepted with ZERO join — a definite negative. Only the bloom HITS
    * (true dups + the fpp sliver of false positives) enter the
    * verifying anti-join, so the shuffle is bounded by the overlap
    * volume, not the corpus: at a 1% overlap the anti-join moves ~1%
    * of the corpus instead of all of it. The corpus is scanned twice
    * (once per bloom side) — at scale two parquet scans are far
    * cheaper than one corpus-wide shuffle. Bloom false positives are
    * CAUGHT by the anti-join, so the result is exact for any fpp; with
    * `bloomExpectedItems = None` (or an empty reference) the gate is
    * skipped and the plain distinct+anti-join runs.
    *
    * Rows with NULL text survive on both paths (a null fingerprint
    * matches nothing — SQL NOT EXISTS semantics). */
  def crossCorpusExact(corpus: DataFrame, textCol: String,
                       reference: DataFrame, refTextCol: String,
                       bloomExpectedItems: Option[Long] = Some(1L << 20),
                       bloomFpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val refFp = reference
      .select(md5(col(refTextCol).cast("binary")).as("__fp"))
      .where(col("__fp").isNotNull).distinct()
    val b = corpus.withColumn("__fp", md5(col(textCol).cast("binary")))

    val survivors = bloomExpectedItems match {
      case Some(n) =>
        // BloomFilterAggregate's own item cap is 4M by default; past it
        // the gate degrades to fpp creep, so clamp and let the verify
        // join keep the result exact regardless. The caller's value is
        // a CAPACITY CAP; the actual size also reads the reference's
        // plan-statistics row estimate (bytes/64 — the zero-job sizing
        // device Par.floor uses): a fixed 2^20 capacity bakes a 1.2 MB
        // bitmap literal into the plan and the generated code whatever
        // the reference size, and compiling it dominated the query on
        // small references. Undersizing only raises fpp — the verify
        // join keeps the result exact.
        val statsRows =
          (reference.queryExecution.optimizedPlan.stats.sizeInBytes / 64)
            .min(BigInt(Long.MaxValue)).toLong
        val items = math.min(math.max(math.min(n, statsRows), 64L), 4000000L)
        val nBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(items, bloomFpp)
        val hashedFp = new XxHash64(Seq(GraftShims.expression(col("__fp"))))
        val agg = new BloomFilterAggregate(hashedFp,
          Literal(items), Literal(nBits)).toAggregateExpression()
        val bloomBytes = refFp.select(GraftShims.column(agg))
          .head().getAs[Array[Byte]](0)
        if (bloomBytes == null) b // empty reference: everything survives
        else {
          val mightContain = GraftShims.column(BloomFilterMightContain(
            Literal(bloomBytes, BinaryType), hashedFp))
          val misses = b.where(!mightContain || col("__fp").isNull)
          val hits = b.where(mightContain && col("__fp").isNotNull)
            .join(refFp, Seq("__fp"), "left_anti")
          misses.unionByName(hits)
        }
      case None => b.join(refFp, Seq("__fp"), "left_anti")
    }
    survivors.drop("__fp")
  }

  /** Repeated-passage (boilerplate) detection: fixed-width token
    * windows (`window` tokens, step `stride`) that occur in at least
    * `minDocs` DISTINCT documents — the corpus-frequency form of exact
    * substring dedup (headers, footers, license blocks, navigation
    * chrome repeat VERBATIM across pages; near-dup pair mining never
    * surfaces them because the surrounding documents differ).
    *
    * Scale shape: one tokenize + one window explode (pure projection,
    * ~n_tokens/stride rows per doc), then a single groupBy(passage)
    * with partial aggregation — no join, no pair fan-out, nothing
    * quadratic. The report is corpus-frequency-bounded (only passages
    * clearing `minDocs` survive). `approxDocs = true` swaps the exact
    * distinct-doc count for HLL++ (approx_count_distinct) — at 100 TB
    * the exact count's per-passage doc-id de-dup is the only part that
    * grows with corpus size, and boilerplate detection tolerates ±2%
    * on a >= 2 threshold over millions of occurrences.
    *
    * The tokens and the window array are each projected ONCE before
    * reuse (lambda/HOF expressions get no common-subexpression
    * elimination). */
  def passageRepeats(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 16, stride: Int = 16, minDocs: Int = 2,
                     approxDocs: Boolean = false): DataFrame = {
    require(window >= 1 && stride >= 1, "window and stride must be positive")
    // no Par.floor here: at stride = window the explode emits ~1/window
    // of the token stream, and the barrier exchange (which carries the
    // full token arrays) measured SLOWER than the single-task explode
    // (0.57s -> 0.81s at sf0.1); the stride-1 path (slidingWindows)
    // keeps the floor because its explode is window x the text
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .where(size(col("__toks")) >= window)
    val passages = toks.select(col("doc_id"),
      explode(transform(
        sequence(lit(0), size(col("__toks")) - window, lit(stride)),
        i => concat_ws(" ", slice(col("__toks"), i + lit(1), lit(window)))))
        .as("passage"))
    val nd = (if (approxDocs) approx_count_distinct(col("doc_id"))
              else countDistinct(col("doc_id"))).as("n_docs")
    passages.groupBy("passage")
      .agg(nd, count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
      .orderBy("passage")
  }

  /** Every `window`-token sliding window at STRIDE 1:
    * (doc_id, __s: 0-based start, passage). The arbitrary-alignment
    * primitive [[passageRepeatsShifted]] / [[stripShiftedBoilerplate]]
    * share — a pure projection (~n_tokens rows per doc), never
    * aggregated or joined here. */
  private def slidingWindows(docs: DataFrame, idCol: String, textCol: String,
                             window: Int): DataFrame =
    // Par.floor: building window×-the-text strings is the heavy
    // pre-shuffle stage of both consumers
    // explode START INDEXES and build each window string AFTER the
    // explode (r15, guide §4 codegen-friendly expressions): the old
    // form exploded a transform(sequence(...))-built array of window
    // STRINGS — a higher-order function, CodegenFallback, so the
    // heaviest projection of both consumers ran INTERPRETED and
    // allocated window× the document text as an array-of-strings per
    // row before exploding it. posexplode(sequence), slice and
    // concat_ws are all codegen; the window string now materializes
    // once per output row inside the generated stage.
    graft.ops.Par.floor(
      docs
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
        .where(size(col("__toks")) >= window),
      col("doc_id"))
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - window, lit(1)))
          .as(Seq("__p", "__s")))
      .select(col("doc_id"), col("__s"),
        concat_ws(" ", slice(col("__toks"), col("__s") + 1, lit(window)))
          .as("passage"))

  /** Arbitrary-alignment repeated-passage report — the stride-1 form of
    * [[passageRepeats]]: a passage duplicated across documents at ANY
    * token offset is found (stride-16 blocks only see duplicates that
    * land on the same 16-token boundary — a quote embedded at offset 3
    * in one page and offset 11 in another is invisible to them; real
    * web text shifts constantly).
    *
    * Scale shape — the stride-1 explode is `window`× the corpus text,
    * so shuffling window STRINGS is off the table. Two-phase
    * hash-prune instead:
    *  1. frequency over xxhash64(window): the explode shuffles 16
    *     bytes/row (O(n_tokens) longs, not O(window · n_tokens) text),
    *     and only hashes clearing `minDocs` survive — the
    *     corpus-frequency-bounded hot set;
    *  2. windows semi-joined to the hot hashes (AQE broadcasts the
    *     sliver) regroup by the TRUE passage text and re-check
    *     `minDocs`, so a 64-bit collision can create phase-1
    *     candidates but never a false report row. A passage clearing
    *     `minDocs` always clears it for its hash too — no false
    *     negatives. Exact at any corpus size; text shuffles only for
    *     the hot sliver.
    * `approxDocs` swaps both phases' distinct-doc count for HLL++
    * (same ±2%-on-a-threshold contract as [[passageRepeats]]). */
  def passageRepeatsShifted(docs: DataFrame, idCol: String, textCol: String,
                            window: Int = 16, minDocs: Int = 2,
                            approxDocs: Boolean = false): DataFrame = {
    require(window >= 1, "window must be positive")
    def nd = (if (approxDocs) approx_count_distinct(col("doc_id"))
              else countDistinct(col("doc_id")))
    val wins = slidingWindows(docs, idCol, textCol, window)
    val hot = wins
      .select(col("doc_id"), xxhash64(col("passage")).as("__h"))
      .groupBy("__h").agg(nd.as("__nd"))
      .where(col("__nd") >= minDocs)
      .select("__h")
    wins
      .withColumn("__h", xxhash64(col("passage")))
      .join(hot, Seq("__h"), "left_semi")
      .groupBy("passage")
      .agg(nd.as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
      .orderBy("passage")
  }

  /** Token-level boilerplate removal at ARBITRARY alignment — the
    * apply step of [[passageRepeatsShifted]]: every token covered by
    * at least one cross-doc repeated window is dropped and the
    * survivors reassemble in order (a duplicated passage of length
    * L ≥ window is covered exactly by the union of its L−window+1
    * stride-1 windows, so whole shifted passages disappear without the
    * block-boundary misses of [[stripBoilerplate]]). Sub-window docs
    * pass through untouched.
    *
    * Scale shape: the report side is [[passageRepeatsShifted]]'s
    * hash-pruned two-phase; doomed START positions come from one
    * semi-join of the window stream against the (corpus-frequency-
    * bounded) repeated set; covered token indexes explode only for
    * doomed windows (O(window · doomed) rows of ids + ints); the
    * reassembly is the same pure per-row lambda family as
    * [[stripBoilerplate]] — corpus text never shuffles. */
  def stripShiftedBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                              window: Int = 16, minDocs: Int = 2,
                              approxDocs: Boolean = false): DataFrame = {
    require(window >= 1, "window must be positive")
    val rep = passageRepeatsShifted(docs, idCol, textCol, window, minDocs,
      approxDocs).select(col("passage"))
    val doomed = slidingWindows(docs, idCol, textCol, window)
      .join(rep, Seq("passage"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("__s"), col("__s") + lit(window - 1))).as("__i"))
      .groupBy("doc_id")
      .agg(collect_set(col("__i")).as("__doomedTok"))
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .join(doomed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__toks"), (t, i) =>
          coalesce(!array_contains(col("__doomedTok"), i), lit(true))), " ")
          .as("clean_text"),
        coalesce(size(col("__doomedTok")), lit(0)).as("n_tokens_removed"))
      .orderBy("doc_id")
  }

  /** Boilerplate REMOVAL — the apply step [[passageRepeats]]'s report
    * feeds (the CCNet/RefinedWeb cleaning stage: headers, footers,
    * license blocks, navigation chrome are *in-document* noise that doc-
    * level dedup can never remove). Each document's tokens are chunked
    * into non-overlapping `window`-token blocks (stride = window — the
    * alignment that makes "covered by a repeated passage" exact and
    * reconstruction lossless); blocks whose passage occurs verbatim in
    * ≥ `minDocs` distinct docs are dropped, everything else — including
    * the trailing partial block, which is never a full window — is
    * reassembled in order. Docs shorter than one window pass through
    * untouched.
    *
    * Scale shape: the repeated-passage set is one groupBy (the report);
    * marking doomed blocks is an equi-join on the passage key (the
    * repeated set is corpus-frequency-bounded — NOT broadcast-hinted,
    * boilerplate vocabularies grow with real corpora; AQE broadcasts
    * when small); the doomed-block lists group only the AFFECTED docs;
    * reconstruction is a pure per-row lambda over the token array.
    * Nothing pairwise, the corpus never shuffles. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 16, minDocs: Int = 2,
                       approxDocs: Boolean = false): DataFrame = {
    require(window >= 1, "window must be positive")
    val rep = passageRepeats(docs, idCol, textCol, window, stride = window,
      minDocs, approxDocs).select(col("passage"))
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
    // (doc_id, block index, passage) for every FULL window; the windows
    // partition the first floor(n/window)·window tokens
    val blocks = toks.where(size(col("__toks")) >= window)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - window, lit(window)),
        i => concat_ws(" ", slice(col("__toks"), i + lit(1), lit(window))))))
      .toDF("doc_id", "b", "passage")
    val doomed = blocks.join(rep, Seq("passage"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_set(col("b")).as("__doomed"))
    reassemble(toks, doomed, window)
  }

  /** Drop kept-tokens reconstruction shared by the block-removal ops:
    * left-join the per-doc doomed-block sets (docs with none pass
    * through whole) and rebuild the text from the surviving tokens in
    * order — a pure per-row lambda, the corpus never shuffles. */
  private def reassemble(toks: DataFrame, doomed: DataFrame,
                         window: Int): DataFrame =
    toks.join(doomed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__toks"), (t, i) =>
          coalesce(!array_contains(col("__doomed"),
            floor(i / lit(window)).cast("int")), lit(true))), " ")
          .as("clean_text"),
        coalesce(size(col("__doomed")), lit(0)).as("n_blocks_removed"))
      .orderBy("doc_id")

  /** INTRA-document repeated-block dedup — the C4 "keep the first
    * occurrence" cleaning rule, at token-block granularity (this
    * corpus has no newlines; on a corpus with lines, lines are the
    * natural block): within each document, every non-overlapping
    * `window`-token block that repeats an EARLIER block of the same
    * document verbatim is dropped; the first occurrence, the trailing
    * partial block, and sub-window docs always survive. Complements
    * [[stripBoilerplate]], which removes blocks repeated ACROSS
    * documents.
    *
    * Scale shape: one block explode + one (doc_id, passage) groupBy
    * (partial-agg; the block stream is ~n_tokens/window rows of ids +
    * short strings) narrowed to the repeated groups BEFORE the per-doc
    * gather, then the same per-row reassembly lambda as
    * stripBoilerplate. Nothing pairwise, no window function, the
    * corpus text never shuffles. */
  def dedupRepeatedBlocks(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 16): DataFrame = {
    require(window >= 1, "window must be positive")
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
    val blocks = toks.where(size(col("__toks")) >= window)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - window, lit(window)),
        i => concat_ws(" ", slice(col("__toks"), i + lit(1), lit(window))))))
      .toDF("doc_id", "b", "passage")
    // all-but-first per (doc, passage): sort the tiny per-group block
    // list and drop its head — no corpus-wide window function
    val doomed = blocks.groupBy("doc_id", "passage")
      .agg(sort_array(collect_list(col("b"))).as("__bs"))
      .where(size(col("__bs")) > 1)
      .select(col("doc_id"),
        slice(col("__bs"), lit(2), size(col("__bs")) - 1).as("__dup"))
      .groupBy("doc_id")
      .agg(flatten(collect_list(col("__dup"))).as("__doomed"))
    reassemble(toks, doomed, window)
  }

  /** [[simhashPairs]] served from a precomputed (doc_id, simhash)
    * frame — the ingest-artifact path (see
    * [[minhashLshFromSignatures]]). */
  def simhashPairsFromSignatures(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole guarantees hamming<=3 only")
    val blocks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bnd =>
        struct(lit(bnd).as("b"),
          shiftright(col("simhash"), bnd * 16).bitwiseAND(0xFFFFL).as("v"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.b").as("b"), col("bk.v").as("v"))
    // first-shared-block emission instead of a distinct — the
    // simhashCandidates device: a pair agreeing on k blocks surfaces
    // exactly once (at the lowest zero 16-bit group of the xor), so the
    // duplicated-pair shuffle + aggregate disappears from the plan.
    val xor = col("x.simhash").bitwiseXOR(col("y.simhash"))
    val firstShared = (0 until 4).foldRight(lit(4).cast("int")) { (bnd, acc) =>
      when(shiftright(xor, bnd * 16).bitwiseAND(0xFFFFL) === 0, lit(bnd))
        .otherwise(acc)
    }
    blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .where(col("x.b") === firstShared)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }
}
