package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.HybridSearchEngine
import graft.operators.{Dedup, Hnsw, Ivf, MetaPredicate, Pq}
import graft.streaming.CurationStream
import Data._

/** A workload: a set-up that generates its inputs from the seed and builds
  * its indexes (repeatable from scratch), and a closed loop with one client
  * that runs its ops for a given time. */
abstract class Workload(val ctx: Ctx) {
  val K = 10
  def seed: Long = ctx.seed
  def spark = ctx.spark
  /** generate, write, build every index, compute exact answers */
  def setUp(rep: Int): Unit
  /** pay the one-off JIT and codegen cost on inputs outside the timed set,
    * one op at a time as in the timed loop */
  def warmUp(): Unit
  def run(seconds: Double): Unit
  /** units of work an op completes: queries answered or documents arrived */
  def itemsOf(r: OpRecord): Double
  /** answer quality over a fixed, seed-determined set of answers */
  def recall: Double
  /** per-layer ratios this workload can measure (name -> value) */
  def ratios(work: String => SparkWork): Map[String, Double] = Map.empty
  /** kernel throughputs, measured only by the traced point_serve run */
  def kernels(): Map[String, Double] = Map.empty

  /** fresh directory for one set-up repetition; earlier ones are removed */
  protected def repDir(rep: Int): String = {
    spark.catalog.clearCache()
    (0 until rep).foreach(r => deleteTree(ctx.dir.resolve(s"setup$r")))
    ctx.path(s"setup$rep")
  }
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }

  protected val VecType = ArrayType(FloatType, containsNull = false)
  protected def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
  protected def vectorFrame(vecs: Array[Array[Float]]): DataFrame =
    frame(vecs.indices.map(i => Row(i.toLong, vecs(i))),
      StructType(Seq(StructField("vec_id", LongType, nullable = false), StructField("embedding", VecType))))
  protected def metaFrame(meta: Array[Meta]): DataFrame =
    frame(meta.indices.map { i =>
      val m = meta(i)
      Row(i.toLong, m.color, m.itemWeight, m.modelYear, m.brand, m.country)
    }, StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("color", StringType), StructField("item_weight", DoubleType),
      StructField("model_year", IntegerType, nullable = false),
      StructField("brand", StringType), StructField("country", StringType))))
  /** IVF index build: every vector labelled with the nearest of `nList`
    * seed centroids (the first `nList` vectors) by `Ivf.assignToNearest`,
    * then written as the engine's corpus table */
  protected def writeIvfCorpus(emb: DataFrame, nList: Int, path: String): Unit = {
    val cent = emb.filter(col("vec_id") < nList).select(col("vec_id").as("label"), col("embedding").as("cent"))
    emb.join(Ivf.assignToNearest(emb, cent).select("vec_id", "label"), "vec_id")
      .write.mode("overwrite").parquet(path)
  }
  /** a (block-balanced) seeded shuffle: op i's type */
  protected def opType(types: IndexedSeq[String], i: Int): String =
    Data.rng(seed, 7, i / types.size).shuffle(types)(i % types.size)

  /** rows of a top-k answer: (id, scaled score), best first */
  protected def checkRanked(got: Seq[(Long, Long)], n: Int, cosine: Boolean,
                            exact: Long => Long, keep: Long => Boolean, what: String): Unit = {
    ctx.check(got.size <= K, s"$what returned ${got.size} rows > k")
    ctx.check(got.forall { case (id, _) => id >= 0 && id < n }, s"$what returned an unknown id")
    ctx.check(got.forall { case (id, _) => keep(id) }, s"$what returned a row failing its filter")
    ctx.check(got.forall { case (id, s) => exact(id) == s }, s"$what returned a wrong score")
    ctx.check(got.map(_._1).distinct.size == got.size, s"$what returned an id twice")
    ctx.check(got.zip(got.drop(1)).forall { case ((i1, a), (i2, b)) =>
      if (a == b) i1 < i2 else if (cosine) a > b else a < b }, s"$what is not ranked best-first")
  }
}

object Workload {
  val Names: Seq[String] = Seq("point_serve", "ingest")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "point_serve" => new PointServe(ctx)
    case "ingest" => new Ingest(ctx)
  }
}

/** Single filtered kNN queries over 64-d vectors with ABO-shaped metadata,
  * four strategies in equal shares. Nearly all of a query's cost is fixed:
  * planning, driver jobs and index restore. */
final class PointServe(c: Ctx) extends Workload(c) {
  val N = 10000; val D = 64; val NList = 16; val RecallOps = 36; val WarmPasses = 12
  /** a fresh JVM's query latency falls steeply over its first seconds of
    * queries, then slowly; timing starts after at least this long */
  val WarmSeconds = 15.0
  val Strategies = IndexedSeq("prefilter", "postfilter", "acorn_ivf", "acorn_hnsw")
  private var space: VectorSpace = _
  private var vecs: Array[Array[Float]] = _
  private var meta: Array[Meta] = _
  private var engine: HybridSearchEngine = _
  private var metaDf: DataFrame = _
  private var hnswPath: String = _
  private val truth = mutable.HashMap.empty[Int, Seq[Long]]
  private val recalls = scala.collection.concurrent.TrieMap.empty[Int, Double]
  /** rows each timed op returned, by op id */
  private val rowsOf = mutable.HashMap.empty[String, Int]

  // classes cycle per block and the three forms of a class per three
  // blocks, so every strategy meets each class and form equally often
  private def classOf(i: Int): Int = 1 + Math.floorMod(Math.floorDiv(i, Strategies.size), 3)
  private def filterFor(i: Int): Filter = {
    val b = Math.floorDiv(i, Strategies.size)
    filterOf(classOf(i), Math.floorMod(Math.floorDiv(b, 3), 3), Data.rng(seed, 8, i))
  }
  private def truthFor(i: Int, strategy: String): Seq[Long] = {
    val f = filterFor(i)
    Oracle.topK(vecs, space.query(i), K, strategy != "acorn_hnsw", j => passes(f, meta(j))).map(_._1)
  }

  def setUp(rep: Int): Unit = {
    val dir = repDir(rep)
    ctx.step("generate") {
      space = new VectorSpace(seed, D, 24, 0.8)
      vecs = space.corpus(N)
      meta = Data.metadata(seed, N)
    }
    val emb = vectorFrame(vecs)
    ctx.step("ivf") {
      writeIvfCorpus(emb, NList, s"$dir/corpus")
      metaFrame(meta).write.mode("overwrite").parquet(s"$dir/meta")
    }
    hnswPath = s"$dir/hnsw"
    ctx.step("hnsw")(Hnsw.buildAndWrite(emb, hnswPath, D, ctx.cores))
    metaDf = spark.read.parquet(s"$dir/meta")
    engine = HybridSearchEngine(spark.read.parquet(s"$dir/corpus"), metaDf)
    truth.clear()
    recalls.clear()
    ctx.step("truth") {
      (0 until RecallOps).foreach(i => truth(i) = truthFor(i, opType(Strategies, i)))
      for (p <- 0 until WarmPasses; (s, j) <- Strategies.zipWithIndex) truth(warmIndex(p, j)) = truthFor(warmIndex(p, j), s)
    }
  }
  /** warm-up queries of the recall set: negative indices, one block of
    * every strategy per pass */
  private def warmIndex(pass: Int, j: Int): Int = -1 - pass * Strategies.size - j
  /** the recall set, then the timed loop's mix on queries outside both sets
    * until `WarmSeconds` have passed */
  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    for (p <- 0 until WarmPasses; (s, j) <- Strategies.zipWithIndex) query(s, warmIndex(p, j))
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < WarmSeconds) {
      query(opType(Strategies, i), -1000 - i)
      i += 1
    }
  }

  private def query(strategy: String, i: Int): Unit = {
    val f = filterFor(i)
    val q = space.query(i)
    val qdf = frame(Seq(Row(i.toLong, q)), StructType(Seq(
      StructField("q_id", LongType, nullable = false), StructField("q_vec", VecType))))
    val m = toEngine(f)
    val got = ctx.op(strategy, s"class${classOf(i)}") {
      strategy match {
        case "prefilter" => engine.preFilterSearch(m, qdf, K).select("vec_id", "score")
        case "postfilter" => engine.postFilterSearch(m, qdf, K, largeK = 50).select("vec_id", "score")
        case "acorn_ivf" => engine.acornSearch(m, qdf, K, nProbe = 2).select("vec_id", "score")
        case "acorn_hnsw" =>
          val passing = metaDf.filter(MetaPredicate(m.toSeq: _*)).select(col("doc_id").as("vec_id"))
          Hnsw.searchFilteredPersisted(spark, hnswPath, passing, ctx.cores, q, K,
            metaSearch = 100, ef = 200, largeK = 200)
      }
    }(_.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    got.foreach { rows =>
      val cosine = strategy != "acorn_hnsw"
      val exact: Long => Long = id =>
        if (cosine) Oracle.cosine(vecs(id.toInt), q) else Oracle.l2(vecs(id.toInt), q)
      checkRanked(rows, N, cosine, exact, id => passes(f, meta(id.toInt)), s"$strategy q$i")
      val keep: Int => Boolean = j => passes(f, meta(j))
      strategy match {
        case "prefilter" =>
          ctx.check(rows == Oracle.topK(vecs, q, K, cosineMetric = true, keep),
            s"prefilter q$i differs from the exact answer")
        case "postfilter" =>
          val top50 = Oracle.topK(vecs, q, 50, cosineMetric = true, _ => true)
          ctx.check(rows == top50.filter(h => keep(h._1.toInt)).take(K),
            s"postfilter q$i differs from exact top-50 then filter")
        case _ =>
      }
      if (ctx.timing) rowsOf(ctx.records.last.id) = rows.size
      // recall over the warm-up answers and the timed prefix: a fixed set
      truth.get(i).filter(_ => strategy != "prefilter")
        .foreach(t => recalls(i) = Stats.recallAtK(t, rows.map(_._1), K))
    }
  }

  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < RecallOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      ctx.tracer.foreach(_.attach(i % 2 == 0))
      query(opType(Strategies, i), i)
      i += 1
    }
  }
  def itemsOf(r: OpRecord): Double = 1.0
  def recall: Double = if (recalls.isEmpty) 0.0 else recalls.values.sum / recalls.size
  /** Each kernel projected through graft.functions over a cached frame of
    * 4k vectors at the reference width (2048-d) into the noop sink; rows/s
    * of the best of 2. */
  override def kernels(): Map[String, Double] = {
    import graft.functions.{centroids, pq, vectors}
    val KN = 4000; val KD = 2048; val NumSub = 16; val SubDim = 128; val NumCodes = 64
    val wide = new VectorSpace(seed, KD, 24, 0.8).corpus(KN)
    val q = wide(0)
    val cached = vectorFrame(wide).select(col("vec_id"), col("embedding"),
      vectors.bqPack(col("embedding"), KD / 32).as("bq"),
      col("embedding").cast("array<double>").as("v")).cache()
    cached.count()
    val qBits = (0 until KD / 32).map { g =>
      (0 until 32).foldLeft(0L)((acc, j) => if (q(g * 32 + j) > 0f) acc | (1L << j) else acc)
    }.toArray
    val codebooks = (0 until NumSub).map(m =>
      (0 until NumCodes).map(cw => wide(cw).slice(m * SubDim, (m + 1) * SubDim).map(_.toDouble)).toArray)
    val table = (0 until NList).map(l => (l.toLong, wide(l)))
    val exprs = Seq(
      "cosine" -> Seq(vectors.cosine(col("embedding"), typedLit(q))),
      "l2" -> Seq(vectors.l2(col("embedding"), typedLit(q))),
      "hamming" -> Seq(vectors.hammingLong(col("bq"), typedLit(qBits))),
      "pq_nearest_code" -> (0 until NumSub).map(m => pq.nearestCode(col("v"), codebooks(m), m, SubDim)),
      "nearest_centroid" -> Seq(centroids.nearest(col("embedding"), table)))
    val out = exprs.map { case (name, cols) =>
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        cached.select(cols: _*).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      s"kernel.$name.rows_per_s" -> KN / times.min
    }.toMap
    cached.unpersist()
    out
  }
  override def ratios(work: String => SparkWork): Map[String, Double] = {
    val ivf = ctx.records.filter(r => r.op == "acorn_ivf" && r.traced && rowsOf.contains(r.id))
    val post = ctx.records.filter(r => r.op == "postfilter" && rowsOf.contains(r.id))
    Map(
      "acorn_ivf.scan_rows_per_result" ->
        ivf.map(r => work(r.id).scanRows).sum.toDouble / math.max(1, ivf.map(r => rowsOf(r.id)).sum),
      "postfilter.underfull_share" ->
        post.count(r => rowsOf(r.id) < K).toDouble / math.max(1, post.size))
  }
}

/** Writes beside reads: arrival rounds are curated, deduplicated against
  * the accepted corpus, appended to the PQ index and the corpus table, and
  * read back through the persisted PQ and the appended HNSW graphs; the
  * run ends with MinHash-LSH near-duplicate detection and connected
  * components over every accepted document. */
final class Ingest(c: Ctx) extends Workload(c) {
  val NBase = 4000; val D = 64; val RoundDocs = 200; val NumSub = 8; val SubDim = 8
  val MinQuality = 4000L; val NumHashes = 32; val Bands = 8; val NearDupReps = 3
  /** arrival rounds before timing; a fixed count, so the timed rounds and
    * the recall set depend only on the seed */
  val WarmRounds = 3
  private var stream: DocStream = _
  private var dir: String = _
  private var nextId = 0L
  private var round = 0
  private val docs = mutable.HashMap.empty[Long, Doc]
  private val accepted = mutable.ArrayBuffer.empty[Long]
  private val arrivedIn = mutable.HashMap.empty[String, Double]
  private var planted = Seq.empty[(Long, Long)]
  private var pairsFound = 0L
  private var dupRecall = 0.0
  private var arrived = 0L
  private var acceptedTimed = 0L
  private var beamProbes = 0
  private var beamMisses = 0

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType), StructField("n_chars", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))
  private val CorpusSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", VecType), StructField("text", StringType)))
  private def corpusRows(ds: Seq[Doc]): DataFrame =
    frame(ds.map(d => Row(d.id, d.vec, d.text)), CorpusSchema).withColumn("h", md5(col("text")))
  private def corpus: DataFrame = spark.read.parquet(s"$dir/corpus")

  def setUp(rep: Int): Unit = {
    dir = repDir(rep)
    stream = new DocStream(seed, new VectorSpace(seed, D, 24, 0.8))
    docs.clear(); accepted.clear(); arrivedIn.clear()
    val base = ctx.step("generate")(stream.base(NBase))
    base.foreach(d => docs(d.id) = d)
    accepted ++= base.map(_.id)
    nextId = NBase; round = 0; arrived = 0; acceptedTimed = 0
    ctx.step("corpus")(corpusRows(base.toIndexedSeq).write.mode("overwrite").parquet(s"$dir/corpus"))
    val emb = corpus.select("vec_id", "embedding")
    ctx.step("pq")(Pq.buildAndWriteIndex(emb, s"$dir/pq", NumSub, SubDim, numCodes = 64))
    ctx.step("hnsw")(Hnsw.buildAndWrite(emb, s"$dir/hnsw", D, ctx.cores))
  }
  /** `WarmRounds` arrival rounds (their documents stay accepted), then
    * near-duplicate detection over the corpus they leave */
  def warmUp(): Unit = {
    (0 until WarmRounds).foreach(_ => ingestRound())
    nearDup(corpus)
  }

  private def ingestRound(): Unit = {
    val ds = stream.round(round, nextId, RoundDocs)
    ds.foreach(d => docs(d.id) = d)
    nextId += ds.length
    val ts = new java.sql.Timestamp(1700000000000L + round * 60000L)
    val arrivals = frame(ds.toIndexedSeq.map(d => Row(d.id, s"src${d.id % 7}", d.text.length.toLong, d.text, ts)),
      DocSchema)
    val kept = ctx.op("curate") {
      val gated = CurationStream.gated(arrivals, MinQuality).withColumn("h", md5(col("text")))
      val fresh = gated.join(corpus.select("h"), Seq("h"), "left_anti")
      fresh.join(Dedup.exact(fresh).select(col("keeper").as("doc_id")), "doc_id")
    }(_.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    if (ctx.timing) { arrivedIn(ctx.records.last.id) = ds.length; arrived += ds.length }
    val expect = ds.filter(_.accepted).map(_.id).toSeq
    kept.foreach(k => ctx.check(k == expect,
      s"curate round $round accepted ${k.size} docs, expected ${expect.size} " +
        s"(extra ${k.diff(expect).take(5)}, missing ${expect.diff(k).take(5)})"))
    kept.foreach(k => ctx.check(!k.exists(id => docs(id).kind.isInstanceOf[ExactDup]),
      s"curate round $round kept a planted exact duplicate"))
    val newDocs = kept.getOrElse(Nil).map(docs)
    accepted ++= newDocs.map(_.id)
    if (ctx.timing) acceptedTimed += newDocs.size
    ctx.op("append") {
      corpusRows(newDocs)
    } { rows =>
      Pq.appendToIndex(spark, s"$dir/pq", rows.select("vec_id", "embedding"), NumSub, SubDim)
      rows.write.mode("append").parquet(s"$dir/corpus")
    }
    // reads whose right answer is a row appended in this round: the
    // round's first document `a` and its planted near-duplicate `b`
    val (a, b) = (ds(0).id, ds(1).id)
    val pqRows = ctx.op("raw_pq") {
      Pq.searchPersisted(spark, s"$dir/pq", corpus.select("vec_id", "embedding"), b, K,
        NumSub, SubDim, shortlist = 100)
    }(_.collect().toSeq.map(_.getLong(0)))
    pqRows.foreach(r => ctx.check(r.headOption.contains(a),
      s"raw_pq round $round: nearest to $b should be $a appended this round, got ${r.take(3)}"))
    // ef = 0 asks for the exact search (the beam spans the whole graph and
    // sweeps the nodes it could not reach), so the check tests that the
    // write is visible. At the default ef the beam can miss an appended node
    // that the insert's one-sided degree prune left with no in-edge; the
    // traced run counts those misses, in every round it runs.
    val appended = corpus.filter(col("vec_id") >= NBase).select("vec_id", "embedding")
    def rows(df: DataFrame): Seq[(Long, Long)] = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val hit: Seq[(Long, Long)] => Boolean = _.headOption.contains((a, 0L))
    val hnswRows = ctx.op("raw_hnsw") {
      Hnsw.searchAppended(spark, s"$dir/hnsw", appended, ctx.cores, docs(a).vec, K, ef = 0)
    }(rows)
    hnswRows.foreach(r => ctx.check(hit(r),
      s"raw_hnsw round $round: $a appended this round should be found at distance 0, got ${r.take(3)}"))
    if (ctx.tracer.isDefined) {
      beamProbes += 1
      if (!hit(rows(Hnsw.searchAppended(spark, s"$dir/hnsw", appended, ctx.cores, docs(a).vec, K))))
        beamMisses += 1
    }
    round += 1
  }

  /** near-duplicate pairs and their components over `docs`: (pairs, labels) */
  private def nearDup(docs: DataFrame): Option[(Long, Map[Long, Long])] = {
    val pairs = ctx.op("neardup_lsh") {
      Dedup.minhashLsh(docs.select(col("vec_id").as("doc_id"), col("text")), NumHashes, Bands)
    }(p => Dedup.materialize(p))
    val out = pairs.flatMap(p => ctx.op("neardup_cc")(Dedup.connectedComponents(p))(
      _.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap).map(l => (p.count(), l)))
    spark.catalog.clearCache()
    out
  }

  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val first = round
    while (round == first || (System.nanoTime() - t0) / 1e9 < seconds) {
      ctx.tracer.foreach(_.attach((round - first) % 2 == 0))
      ingestRound()
    }
    ctx.tracer.foreach(_.attach(true))
    // recall over the near-duplicates planted in the base, the warm-up
    // rounds and the first timed round: a fixed, seed-determined set of pairs
    val lastPlanted = NBase + (first + 1) * RoundDocs
    planted = docs.values.toSeq.collect { case Doc(id, _, _, NearDup(of)) if id < lastPlanted => (of, id) }
    // near-duplicate detection runs once a run; it is repeated so that its
    // latency is a median too, and every repeat must give the same answer
    val reps = (0 until NearDupReps).map(_ => nearDup(corpus))
    ctx.check(reps.forall(_ == reps.head), "neardup repeats over one corpus disagree")
    reps.head.foreach { case (n, l) =>
      pairsFound = n
      dupRecall = planted.count { case (x, y) => l.contains(x) && l.get(x) == l.get(y) }.toDouble /
        math.max(1, planted.size)
    }
  }
  def itemsOf(r: OpRecord): Double = arrivedIn.getOrElse(r.id, 0.0)
  def recall: Double = dupRecall
  override def ratios(work: String => SparkWork): Map[String, Double] = Map(
    "neardup_lsh.pairs_per_planted" -> pairsFound.toDouble / math.max(1, planted.size),
    "curate.accept_share" -> acceptedTimed.toDouble / math.max(1L, arrived),
    "raw_hnsw.beam_miss_share" -> beamMisses.toDouble / math.max(1, beamProbes))
}
