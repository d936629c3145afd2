package graftbench

/** Seeded input generation. Everything a workload feeds graft is built
  * here from (seed, stream, index), so the same seed yields byte-identical
  * inputs and the engine receives only the generated rows. */
object Data {
  def rng(seed: Long, stream: Long, index: Long = 0): Rng =
    new Rng(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ index * 0x165667B19E3779F9L)

  /** Clustered float vectors: `nCenters` Gaussian centers, each row a
    * center plus isotropic noise — so IVF lists and HNSW graphs have real
    * structure to exploit. */
  final class VectorSpace(seed: Long, val dims: Int, nCenters: Int, noise: Double) {
    val centers: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(nCenters, dims)(r.gaussian())
    }
    def sample(r: Rng): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dims)(i => (c(i) + noise * r.gaussian()).toFloat)
    }
    def corpus(n: Int): Array[Array[Float]] = {
      val r = rng(seed, 2)
      Array.fill(n)(sample(r))
    }
    /** an external query vector (not a corpus row), deterministic per index */
    def query(i: Long): Array[Float] = sample(rng(seed, 3, i))
  }

  // ---- ABO-shaped metadata ------------------------------------------------

  val Colors: IndexedSeq[String] = IndexedSeq("black", "white", "red", "blue", "green",
    "grey", "silver", "gold", "brown", "beige", "navy", "pink", "purple", "orange",
    "yellow", "teal", "ivory", "olive", "maroon", "cyan")
  /** each syllable occurs in exactly one brand name, so a `substring`
    * predicate on a syllable selects one brand in twenty */
  val BrandSyllables: IndexedSeq[String] = IndexedSeq("zor", "kyl", "vex", "qua", "jin",
    "fam", "hob", "dru", "pix", "wem", "tal", "gos", "nuk", "bry", "cid", "lom", "sev",
    "yap", "fud", "rix")
  val Brands: IndexedSeq[String] = BrandSyllables.map(_ + "works")
  val Countries: IndexedSeq[(String, Double)] =
    IndexedSeq("US" -> 0.50, "DE" -> 0.15, "JP" -> 0.15, "FR" -> 0.10, "CN" -> 0.07)

  /** One listing's attributes; null marks a missing attribute. */
  final case class Meta(color: String, itemWeight: java.lang.Double, modelYear: Int,
                        brand: String, country: String)

  def metadata(seed: Long, n: Int): Array[Meta] = {
    val r = rng(seed, 4)
    Array.fill(n) {
      val color = if (r.nextDouble() < 0.05) null else Colors(r.nextInt(Colors.size))
      val w = if (r.nextDouble() < 0.05) null
              else java.lang.Double.valueOf(r.nextInt(10000) / 100.0)
      val year = 2000 + r.nextInt(20)
      val brand = Brands(r.nextInt(Brands.size))
      val u = r.nextDouble()
      val country = Countries.scanLeft(("", 0.0)) { case ((_, acc), (c, p)) => (c, acc + p) }
        .tail.find(_._2 > u).map(_._1).orNull
      Meta(color, w, year, brand, country)
    }
  }

  /** One constraint in the reference's query language `attr -> (op, value)`. */
  final case class Pred(attr: String, op: String, value: Any) {
    /** The reference's semantics, evaluated independently of the engine: a
      * missing attribute fails every op. */
    def matches(m: Meta): Boolean = {
      val v: Any = attr match {
        case "color" => m.color
        case "item_weight" => m.itemWeight
        case "model_year" => m.modelYear
        case "brand" => m.brand
        case "country" => m.country
      }
      if (v == null) false
      else (v, value) match {
        case (a: String, b: String) => op match {
          case "exact" => a == b
          case "substring" => a.contains(b)
          case _ => false
        }
        case (a: java.lang.Double, b: Double) => cmp(java.lang.Double.compare(a, b))
        case (a: Int, b: Int) => cmp(Integer.compare(a, b))
        case _ => false
      }
    }
    private def cmp(c: Int): Boolean = op match {
      case "exact" => c == 0
      case "<" => c < 0
      case ">" => c > 0
      case "leq" => c <= 0
      case "geq" => c >= 0
    }
  }
  type Filter = Seq[Pred]
  def toEngine(f: Filter): Map[String, (String, Any)] =
    f.map(p => p.attr -> (p.op, p.value)).toMap
  def passes(f: Filter, m: Meta): Boolean = f.forall(_.matches(m))

  /** A predicate of selectivity class 1, 2 or 3 (≈5%, ≈15%, ≈50% of rows),
    * in one of the class's three forms (`variant` 0, 1 or 2); `r` draws its
    * value. Together the classes use all six of the reference's ops. */
  def filterOf(cls: Int, variant: Int, r: Rng): Filter = (cls, variant) match {
    case (1, 0) => Seq(Pred("color", "exact", Colors(r.nextInt(Colors.size))))
    case (1, 1) => Seq(Pred("item_weight", "<", 4.0 + r.nextInt(200) / 100.0))
    case (1, _) => Seq(Pred("brand", "substring", BrandSyllables(r.nextInt(Brands.size))))
    case (2, 0) => Seq(Pred("model_year", "geq", 2017))
    case (2, 1) => Seq(Pred("item_weight", "leq", 14.0 + r.nextInt(200) / 100.0))
    case (2, _) => Seq(Pred("country", "exact", if (r.nextInt(2) == 0) "DE" else "JP"))
    case (_, 0) => Seq(Pred("item_weight", ">", 49.0 + r.nextInt(200) / 100.0))
    case (_, 1) => Seq(Pred("model_year", "<", 2010))
    case (_, _) => Seq(Pred("country", "exact", "US"))
  }

  // ---- documents -----------------------------------------------------------

  val EnglishMarkers: IndexedSeq[String] = IndexedSeq("the", "a", "data", "of", "and")
  val ForeignMarkers: IndexedSeq[String] = IndexedSeq("table", "row", "query", "scan")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ner", "sta", "vo", "pri", "dul",
    "ten", "gar", "bis", "col", "fen", "hu", "jor", "pel", "quin", "ras", "sil", "tov",
    "ur", "wex", "yel", "zan", "mor", "cet", "dri", "fla", "gop", "hin", "lus", "mab")
  def word(r: Rng): String =
    (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString

  /** Kind of an arriving document and the earlier document it copies. */
  sealed trait Kind
  case object Clean extends Kind
  final case class NearDup(of: Long) extends Kind
  final case class ExactDup(of: Long) extends Kind
  case object Foreign extends Kind
  case object LowQuality extends Kind

  final case class Doc(id: Long, text: String, vec: Array[Float], kind: Kind) {
    def accepted: Boolean = kind match {
      case Clean | NearDup(_) => true
      case _ => false
    }
  }

  def englishText(r: Rng): Seq[String] =
    (0 until 40 + r.nextInt(20)).map { _ =>
      if (r.nextDouble() < 0.25) EnglishMarkers(r.nextInt(EnglishMarkers.size)) else word(r)
    }
  def render(tokens: Seq[String]): String = tokens.mkString(" ") + "."
  /** two tokens replaced: 3-gram Jaccard stays near 0.8 */
  def perturb(tokens: Seq[String], r: Rng): Seq[String] = {
    var t = tokens.toVector
    for (_ <- 0 until 2) {
      val i = r.nextInt(t.size)
      var w = word(r)
      while (w == t(i)) w = word(r)
      t = t.updated(i, w)
    }
    t
  }
  def nudge(v: Array[Float], r: Rng): Array[Float] = v.map(x => (x + 0.001 * r.gaussian()).toFloat)

  /** A growing document stream: the base corpus, then arrival rounds. */
  final class DocStream(seed: Long, space: VectorSpace) {
    private val tokensOf = scala.collection.mutable.HashMap.empty[Long, Seq[String]]
    private val vecOf = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    private val cleanIds = scala.collection.mutable.ArrayBuffer.empty[Long]

    private def clean(id: Long, r: Rng): Doc = {
      val t = englishText(r); val v = space.sample(r)
      tokensOf(id) = t; vecOf(id) = v; cleanIds += id
      Doc(id, render(t), v, Clean)
    }
    private def nearDup(id: Long, of: Long, r: Rng): Doc = {
      val t = perturb(tokensOf(of), r); val v = nudge(vecOf(of), r)
      tokensOf(id) = t; vecOf(id) = v
      Doc(id, render(t), v, NearDup(of))
    }

    /** Base corpus: clean documents, 2% of them planted near-duplicates. */
    def base(n: Int): Array[Doc] = {
      val r = rng(seed, 5)
      Array.tabulate(n) { i =>
        if (i > 0 && r.nextDouble() < 0.02) nearDup(i, cleanIds(r.nextInt(cleanIds.size)), r)
        else clean(i, r)
      }
    }

    /** One arrival round of `n` documents starting at `firstId`. The first
      * two are a clean document and its near-duplicate (the round's read
      * probe); the rest mix clean, near-duplicate, exact-duplicate,
      * non-English and low-quality documents. */
    def round(index: Int, firstId: Long, n: Int): Array[Doc] = {
      val r = rng(seed, 6, index)
      val first = clean(firstId, r)
      val second = nearDup(firstId + 1, firstId, r)
      val kinds = r.shuffle(IndexedSeq.tabulate(n - 2)(i => i % 20 match {
        case 0 | 1 => "near"
        case 2 | 3 => "exact"
        case 4 => "foreign"
        case 5 => "low"
        case _ => "clean"
      }))
      val rest = kinds.zipWithIndex.map { case (k, j) =>
        val id = firstId + 2 + j
        k match {
          case "near" => nearDup(id, cleanIds(r.nextInt(cleanIds.size)), r)
          case "exact" =>
            val of = cleanIds(r.nextInt(cleanIds.size))
            Doc(id, render(tokensOf(of)), vecOf(of), ExactDup(of))
          case "foreign" =>
            val t = (0 until 40 + r.nextInt(20)).map(_ =>
              if (r.nextDouble() < 0.3) ForeignMarkers(r.nextInt(ForeignMarkers.size)) else word(r))
            Doc(id, render(t), space.sample(r), Foreign)
          case "low" =>
            val t = (0 until 6 + r.nextInt(6)).map(_ => s"${('a' + r.nextInt(26)).toChar}!?")
            Doc(id, t.mkString(" "), space.sample(r), LowQuality)
          case _ => clean(id, r)
        }
      }
      (first +: second +: rest).toArray
    }
  }

}

/** Exact answers computed in the JVM, independently of Spark, with the
  * engine's arithmetic (double accumulation over float inputs, scores
  * scaled to `floor(x·10⁴ + 0.5)`, ties to the lower id). */
object Oracle {
  def scaled(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong
  def cosine(a: Array[Float], b: Array[Float]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    scaled(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
  def l2(a: Array[Float], b: Array[Float]): Long = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    scaled(math.sqrt(acc))
  }
  /** top-k (id, scaled score) among ids passing `keep`; cosine ranks high
    * first, L2 low first. */
  def topK(vecs: Array[Array[Float]], q: Array[Float], k: Int, cosineMetric: Boolean,
           keep: Int => Boolean): Seq[(Long, Long)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
      // worst-first queue: the head is the candidate to evict
      Ordering.fromLessThan[(Long, Long)]((a, b) => better(a, b, cosineMetric)))
    var i = 0
    while (i < vecs.length) {
      if (keep(i)) {
        val s = if (cosineMetric) cosine(vecs(i), q) else l2(vecs(i), q)
        val cand = (i.toLong, s)
        if (heap.size < k) heap.enqueue(cand)
        else if (better(cand, heap.head, cosineMetric)) { heap.dequeue(); heap.enqueue(cand) }
      }
      i += 1
    }
    heap.toSeq.sortWith((a, b) => better(a, b, cosineMetric))
  }
  private def better(a: (Long, Long), b: (Long, Long), cosineMetric: Boolean): Boolean =
    if (a._2 != b._2) (if (cosineMetric) a._2 > b._2 else a._2 < b._2) else a._1 < b._1
}
