package graft.queries

/** DuckDB-dialect mirrors of the Spark fragments in `graft.operators.Dedup`. */
object DuckDialect {
  val Tok = """list_filter(string_split_regex(text, '\s+'), x -> x != '')"""
  def hash(v: String) = s"CAST('0x'||substr(md5($v), 1, 15) AS BIGINT)"
  /** 32-bit halves of the md5 (hex chars 1–8 / 9–16). */
  def hashLo(v: String) = s"CAST('0x'||substr(md5($v), 1, 8) AS BIGINT)"
  def hashHi(v: String) = s"CAST('0x'||substr(md5($v), 9, 8) AS BIGINT)"
  val Shingles =
    "list_distinct(list_transform(range(len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' ')))"
  /** Multiset form (no distinct). */
  val ShinglesRaw =
    "list_transform(range(len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))"

  /** Vector quantization to scaled BIGINTs. */
  def quantizeVec(v: String): String =
    s"list_transform($v, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"

  /** Per-cluster mean-vector table. */
  def centSql(src: String, dims: Int = 64): String =
    s"""SELECT label, CAST(list(cv ORDER BY dim) AS FLOAT[]) AS cent FROM (
       |    SELECT e.label AS label, d.dim AS dim, avg(CAST(e.embedding[d.dim + 1] AS DOUBLE)) AS cv
       |    FROM $src e CROSS JOIN range($dims) d(dim)
       |    GROUP BY e.label, d.dim)
       |  GROUP BY label""".stripMargin

  /** BPE training unrolled as CTEs — mirrors operators.Bpe.train iteration
    * for iteration (the knn_ivf_trained oracle pattern): w0/s0 is the
    * distinct-word frequency table with character symbols; each iteration i
    * contributes p_i (pair counts, weighted by word freq), m_i (the argmax
    * merge under the shared (n DESC, l ASC, r ASC) tie order) and s_i (the
    * greedy left-to-right fold — list_reduce seeds from the first element
    * exactly like the Spark side's slice+element_at aggregate, and the
    * ends_with separator anchor gives the identical non-overlapping merge
    * scan). Returns the comma-joined CTE bodies; callers embed them in a
    * WITH and read s<iters> / m1..m<iters>. */
  /** The w0 word-guard mirror of operators.Bpe.WordGuardExpr. */
  private val WordGuard =
    """WHERE NOT (contains(word, chr(29)) OR contains(word, chr(30))
      |    OR contains(word, chr(31)))""".stripMargin

  def bpeChain(iters: Int, eow: Boolean = false): String = {
    val marker = if (eow) s" || ['${graft.operators.Bpe.EowMarker}']" else ""
    val sb = new StringBuilder
    sb ++= s"""w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
              |  FROM (SELECT unnest($Tok) AS word FROM documents)
              |  $WordGuard
              |  GROUP BY word),
              |s0 AS (SELECT word, freq,
              |  list_transform(range(1, length(word) + 1),
              |    i -> substring(word, CAST(i AS INT), 1))$marker AS syms FROM w0)""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"s${i - 1}"
      sb ++= s""",
                |p$i AS (SELECT string_split(pr, chr(31))[1] AS l,
                |    string_split(pr, chr(31))[2] AS r, CAST(sum(freq) AS BIGINT) AS n
                |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
                |      i -> syms[CAST(i AS INT)] || chr(31) || syms[CAST(i AS INT) + 1])) AS pr
                |    FROM $prev WHERE len(syms) > 1)
                |  GROUP BY l, r),
                |m$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l ASC, r ASC LIMIT 1),
                |s$i AS (SELECT word, freq, string_split(list_reduce(syms,
                |    (acc, x) -> CASE WHEN (acc = m.l OR ends_with(acc, chr(31) || m.l))
                |      AND x = m.r THEN acc || x ELSE acc || chr(31) || x END),
                |    chr(31)) AS syms FROM $prev, m$i m)""".stripMargin
    }
    sb.toString
  }

  /** BATCHED BPE training unrolled as CTEs. */
  def bpeBatchChain(scans: Int, batchM: Int, poolC: Int): String = {
    val rp = "string_split(acc, chr(29))[1]"
    val bp = "string_split(acc, chr(29))[2]"
    val xl = "string_split(x, chr(31))[1]"
    val xr = "string_split(x, chr(31))[2]"
    def blocked(sym: String) =
      s"position((chr(31) || $sym || chr(31)) IN (chr(31) || $bp || chr(31))) > 0"
    val p = scala.collection.mutable.ArrayBuffer.empty[String]
    p += s"""w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
            |  FROM (SELECT unnest($Tok) AS word FROM documents)
            |  $WordGuard
            |  GROUP BY word),
            |t0 AS MATERIALIZED (SELECT word, freq,
            |  list_transform(range(1, length(word) + 1),
            |    i -> substring(word, CAST(i AS INT), 1)) AS syms FROM w0)""".stripMargin
    for (s <- 1 to scans) {
      val prev = if (s == 1) "t0" else s"t${s - 1}_$batchM"
      p += s"""p$s AS MATERIALIZED (SELECT string_split(pr, chr(31))[1] AS l,
              |    string_split(pr, chr(31))[2] AS r, CAST(sum(freq) AS BIGINT) AS n
              |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
              |      i -> syms[CAST(i AS INT)] || chr(31) || syms[CAST(i AS INT) + 1])) AS pr
              |    FROM $prev WHERE len(syms) > 1)
              |  GROUP BY l, r)""".stripMargin
      p += s"""c$s AS (SELECT coalesce(list(ru ORDER BY rk), []) AS cands FROM (
              |  SELECT l || chr(31) || r AS ru,
              |    row_number() OVER (ORDER BY n DESC, l ASC, r ASC) AS rk
              |  FROM p$s ORDER BY rk LIMIT $poolC))""".stripMargin
      val nr = s"(CASE WHEN $rp = '' THEN 0 ELSE len(string_split($rp, chr(30))) END)"
      // NB: no emitted line may START with '||'
      p += s"""a$s AS (SELECT CASE WHEN len(cands) = 0 THEN chr(29)
              |    ELSE list_reduce(list_prepend(chr(29), cands), (acc, x) -> CASE
              |      WHEN $nr >= $batchM THEN acc
              |      WHEN ${blocked(xl)} OR ${blocked(xr)}
              |        OR ${blocked(s"($xl || $xr)")} THEN acc
              |      ELSE (CASE WHEN $rp = '' THEN x ELSE $rp || chr(30) || x END) ||
              |        chr(29) ||
              |        (CASE WHEN $bp = '' THEN '' ELSE $bp || chr(31) END) ||
              |        $xl || chr(31) || $xr || chr(31) || $xl || $xr
              |      END) END AS acc FROM c$s)""".stripMargin
      p += s"""b$s AS (SELECT CASE WHEN string_split(acc, chr(29))[1] = '' THEN []
              |    ELSE string_split(string_split(acc, chr(29))[1], chr(30)) END AS rl FROM a$s)""".stripMargin
      p += s"""m$s AS (SELECT CAST(t.j AS BIGINT) AS bi,
              |    string_split(rl[CAST(t.j AS INT)], chr(31))[1] AS l,
              |    string_split(rl[CAST(t.j AS INT)], chr(31))[2] AS r
              |  FROM b$s CROSS JOIN range(1, ${batchM + 1}) t(j)
              |  WHERE rl[CAST(t.j AS INT)] IS NOT NULL)""".stripMargin
      for (j <- 1 to batchM) {
        val src = if (j == 1) prev else s"t${s}_${j - 1}"
        val L = s"string_split(b.rl[$j], chr(31))[1]"
        val R = s"string_split(b.rl[$j], chr(31))[2]"
        p += s"""t${s}_$j AS MATERIALIZED (SELECT word, freq,
                |  CASE WHEN b.rl[$j] IS NULL THEN syms
                |  ELSE string_split(list_reduce(syms,
                |    (a2, x) -> CASE WHEN (a2 = $L OR ends_with(a2, chr(31) || $L))
                |      AND x = $R THEN a2 || x ELSE a2 || chr(31) || x END),
                |    chr(31)) END AS syms
                |  FROM $src, b$s b)""".stripMargin
      }
    }
    p.mkString(",\n")
  }

  /** Integer-exact Lloyd's unrolled as CTEs — mirrors operators.KMeans.fitInt
    * over a caller-provided CTE `ed` (cols vec_id, q = quantizeVec output):
    * c0 seeds from the k lowest ids; each iteration i contributes a_i
    * (nearest-centroid assignment, lower-cl ties), n_i (per-(cluster,dim)
    * integer sums) and c_{i+1} (floor-mean centroids, empty clusters keep
    * their previous centroid); `af` is the final assignment under c<iters>.
    * The knn_ivf_trained / dedup_semdedup oracles embed this in a WITH. */
  def lloydChain(k: Int, iters: Int, dims: Int = 64): String = {
    def dsq(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, ${dims + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, q AS cent
              |  FROM (SELECT vec_id, q FROM ed ORDER BY vec_id LIMIT $k))""".stripMargin
    for (i <- 0 until iters) {
      sb ++= s""",
                |a$i AS (SELECT vec_id, cl FROM (
                |  SELECT e.vec_id, c.cl, row_number() OVER (PARTITION BY e.vec_id
                |    ORDER BY ${dsq("e.q", "c.cent")} ASC, c.cl ASC) AS rn
                |  FROM ed e CROSS JOIN c$i c) WHERE rn = 1),
                |n$i AS (SELECT a.cl, dd.dim, sum(e.q[dd.dim + 1]) AS s, count(*) AS cnt
                |  FROM a$i a JOIN ed e USING (vec_id) CROSS JOIN range($dims) dd(dim)
                |  GROUP BY a.cl, dd.dim),
                |c${i + 1} AS (SELECT c.cl, coalesce(m.cent, c.cent) AS cent FROM c$i c LEFT JOIN (
                |  SELECT cl, list((s - ((s % cnt + cnt) % cnt)) // cnt ORDER BY dim) AS cent
                |  FROM n$i GROUP BY cl) m USING (cl))""".stripMargin
    }
    sb ++= s""",
              |af AS (SELECT vec_id, cl FROM (
              |  SELECT e.vec_id, c.cl, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${dsq("e.q", "c.cent")} ASC, c.cl ASC) AS rn
              |  FROM ed e CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  /** Random-hyperplane LSH bucket id. */
  def bucketSql(vec: String, numPlanes: Int, dims: Int): String =
    (0 until numPlanes).map { j =>
      val plane = graft.operators.Lsh.planeWeights(j, dims)
        .map(w => s"${w.toInt}.0").mkString("[", ", ", "]") + "::DOUBLE[]"
      s"(CASE WHEN list_inner_product(CAST($vec AS DOUBLE[]), $plane) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
}
