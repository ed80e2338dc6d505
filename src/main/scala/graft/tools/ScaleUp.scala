package graft.tools

import graft.GraftSession

/** Scale-up corpus generator for the sf1.0 audit: derives a
  * factor-N corpus from an existing sf directory so the heavy
  * queries' scaling exponents can be MEASURED, not argued from plan
  * inspection. Usage:
  *
  *   runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor>
  *
  * Replica 0 is the source verbatim; replica k ≥ 1 shifts every key
  * by k·stride (strides preserve the residue classes queries filter
  * on — the lineitem order stride stays a multiple of 8 for the
  * graph family's `l_orderkey % 8` subset) and applies a
  * STRUCTURE-PRESERVING, CROSS-REPLICA-DECORRELATING transform to
  * the payload:
  *
  *   - `documents.text`: per-replica KEYED ALPHABET PERMUTATION over
  *     letters and digits (replica 0 = identity). A character
  *     bijection preserves length, shingle-set cardinality, and every
  *     within-replica similarity relation (n-gram Jaccard, MinHash,
  *     SimHash bands, winnowing) EXACTLY, while keeping cross-replica
  *     shingles effectively disjoint — so near-dup density grows
  *     linearly with the corpus instead of every replica pair
  *     colliding. Unlike the r8 Caesar rotations (whose letter images
  *     repeat at k ≡ k' mod 26 and digit images at mod 10, capping the
  *     factor at 10), keyed permutations are constructed PAIRWISE
  *     DISTINCT for any factor ≤ 100 by rejection: each replica's
  *     letter/digit permutation is drawn from a splitmix64-seeded
  *     Fisher-Yates stream and re-drawn until it agrees with every
  *     earlier replica's on at most [[MaxLetterAgree]] letters /
  *     [[MaxDigitAgree]] digits (identity included as replica 0's
  *     image). Soundness of replica-union text oracles: a shingle of
  *     replica k collides with one of replica k' iff the source
  *     corpus contains both s and σ(s) for σ = π_k'⁻¹∘π_k; σ has ≤ 6
  *     letter + ≤ 3 digit fixed points by construction, so
  *     self-collisions need every letter of the shingle inside that
  *     6-letter set, and non-fixed collisions need the pseudo-random
  *     image of an English shingle to itself be a corpus shingle —
  *     both vanishing for the ≥ 5-gram shingles every text-dedup
  *     query keys on (and the scale-up parity gate measures rather
  *     than assumes this, scripts/scaleup_parity.py).
  *   - `embeddings.embedding`: per-replica signed coordinate
  *     rotation (rotate indices by k·23 mod dim, flip deterministic
  *     signs). A signed permutation is orthogonal: within-replica
  *     cosines are bit-identical to the source; cross-replica
  *     cosines are pseudo-random and CONCENTRATE near 0 (1/√64
  *     scale) but are only Gaussian-suppressed, not zero — with
  *     clustered vectors the tail above a LOW threshold is real
  *     (measured at factor 10: ~8e-5 of the 2e8 cross pairs exceed
  *     cos 0.45, i.e. thousands of genuine cross-replica near-dups,
  *     matching how an iid-grown corpus behaves). Replica-union
  *     oracles for embeddings are therefore sound only at high
  *     thresholds (0.8: tail ~1e-10); the scale-up parity gate
  *     verifies the exhaustive low-threshold family by direct
  *     replay / twin-equality / union-find instead
  *     (scripts/scaleup_parity.py).
  *   - `lineitem`/`orders`/`customer`/`supplier`/`part`: pure key
  *     shifts with one shared stride per key family, so every FK
  *     joins within its replica and nothing dangles — N disjoint
  *     copies of the relational schema (and of the co-occurrence
  *     graph: the expected linear-growth regime for joins and the
  *     graph family). `nation`/`region` stay fixed like real TPC-H
  *     bounded dims.
  *   - `events`: event/user key shifts — N disjoint user populations
  *     with identical temporal structure, an honest factor-N
  *     workload for sessionization, per-user windows, and streaming
  *     replay.
  *
  * Everything is written as ONE parquet file per table (the DuckDB
  * gate reads `<dir>/<table>.parquet` as a file), and the untouched
  * tables are byte-copied so the directory is a complete corpus.
  * Deterministic end-to-end: same (src, factor) ⟹ same bytes ⟹ same
  * Tables.fingerprint, so artifact memos behave exactly as on a real
  * corpus.
  */
object ScaleUp {

  /** Max letters (of 26) on which two replicas' letter permutations
    * may agree — bounds σ's fixed points (see class doc). Holds for
    * ALL 1000 replicas (a 26-element space is roomy: the ≥7-agreement
    * rejection rate per prior is ~8e-5, so 999 priors still pass a
    * candidate with probability ~0.92). */
  val MaxLetterAgree = 6

  /** Max digits (of 10) on which two replicas' digit permutations may
    * agree — rows 1..99 (the r9 bound; factor-≤100 corpus bytes are
    * construction-stable, see [[permTable]]). */
  val MaxDigitAgree = 3

  /** Digit bound for rows ≥ 100 (round 13, VERDICT r12 #6 — the
    * factor-1000 audit). In a 10-element space the ≤3 bound is
    * unsatisfiable against ~1000 priors (P(a candidate agrees ≥4 with
    * a given prior) ≈ 1.9%, so P(pass all 999) ≈ 4e-9 — guaranteed
    * rejection runaway); ≤4 passes with worst observed attempt 586 of
    * the 1000 cap (measured by the Python twin, which is bit-exact).
    * Soundness cost: σ = π_k'⁻¹∘π_k for a pair touching a high row
    * has ≤ 4 digit fixed points instead of ≤ 3 — the shingle
    * self-collision argument (class doc) needs every char of a
    * ≥5-gram inside the agreeing set, and natural text is
    * letter-dominated, so the envelope stays vanishing; the parity
    * gate measures rather than assumes it either way. */
  val MaxDigitAgreeHigh = 4

  /** Replica-count ceiling — the permutation tables are constructed
    * (and their pairwise-agreement bounds verified) for rows
    * 0..MaxReplicas-1. */
  val MaxReplicas = 1000

  /** Row-indexed agreement schedule (prefix-stable: rows < 100 use
    * the r9 bounds, so every factor-≤100 corpus byte is unchanged). */
  private[tools] def letterAgreeFor(k: Int): Int = MaxLetterAgree
  private[tools] def digitAgreeFor(k: Int): Int =
    if (k < 100) MaxDigitAgree else MaxDigitAgreeHigh

  /** splitmix64 finalizer — the shared deterministic PRNG between this
    * generator and scripts/scaleup_parity.py's replica oracles (the
    * Python twin masks to 64 bits; both sides must produce identical
    * permutation tables or every replica text oracle goes red). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fisher-Yates permutation of 0..n-1 from the splitmix64 stream
    * seeded by (salt, attempt). `>>> 33` keeps the index draw in
    * non-negative int range on both the JVM and the Python twin. */
  private def fisherYates(n: Int, salt: Long, attempt: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var s = mix64(salt * 1000003L + attempt)
    var i = n - 1
    while (i >= 1) {
      s = mix64(s)
      val j = ((s >>> 33) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def agree(a: Array[Int], b: Array[Int]): Int = {
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  /** Pairwise-low-agreement permutation table: row 0 is the identity
    * (replica 0 is the source verbatim); row k is the first
    * Fisher-Yates draw agreeing with EVERY earlier row on ≤ maxAgree
    * positions. Sequential rejection is deterministic, so the table —
    * and therefore the scaled corpus bytes — depend only on (n, salt,
    * factor); expected rejections are ≈ 0 (a random n-permutation
    * agrees with a fixed one on 1 position in expectation). */
  private[graft] def permTable(
      n: Int, factor: Int, salt: Long, maxAgree: Int): Array[Array[Int]] =
    permTable(n, factor, salt, (_: Int) => maxAgree)

  /** Row-indexed-bound variant: row k's candidate must agree with
    * EVERY earlier row on ≤ maxAgreeFor(k) positions. Construction is
    * sequential (row k rejects only against rows < k), so a longer
    * table is a PREFIX EXTENSION of a shorter one with the same
    * schedule — the property that keeps factor-≤100 corpora
    * bit-stable while rows 100..999 serve the factor-1000 audit. */
  private[graft] def permTable(
      n: Int, factor: Int, salt: Long, maxAgreeFor: Int => Int): Array[Array[Int]] = {
    val rows = new scala.collection.mutable.ArrayBuffer[Array[Int]]
    rows += Array.tabulate(n)(identity)
    var k = 1
    while (k < factor) {
      var attempt = 0
      var cand = fisherYates(n, salt + k, attempt)
      while (rows.exists(r => agree(r, cand) > maxAgreeFor(k))) {
        attempt += 1
        require(attempt < 1000, s"permTable: rejection runaway at k=$k")
        cand = fisherYates(n, salt + k, attempt)
      }
      rows += cand
      k += 1
    }
    rows.toArray
  }

  private lazy val letterPerms =
    permTable(26, MaxReplicas, 0x5CA1E7L, letterAgreeFor _)
  private lazy val digitPerms =
    permTable(10, MaxReplicas, 0xD1617L, digitAgreeFor _)

  /** Replica-k payload transform: keyed bijection on lowercase,
    * uppercase (same letter table), and digits; all other characters
    * (separators, punctuation, whitespace) fixed — so the recursive
    * splitter's boundaries, every length, and every within-replica
    * similarity relation are preserved exactly. Replaces r8's
    * `caesar` (pairwise-distinct only for factor ≤ 10). */
  def permuteText(s: String, k: Int): String =
    if (k == 0) s
    else {
      val lp = letterPerms(k); val dp = digitPerms(k)
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        sb += (
          if (c >= 'a' && c <= 'z') ('a' + lp(c - 'a')).toChar
          else if (c >= 'A' && c <= 'Z') ('A' + lp(c - 'A')).toChar
          else if (c >= '0' && c <= '9') ('0' + dp(c - '0')).toChar
          else c)
        i += 1
      }
      sb.toString
    }

  /** Signed rotation: out(i) = sign(k,i) · in((i + 23k) mod d). */
  def rotateSigned(v: Array[Float], k: Int): Array[Float] =
    if (k == 0) v
    else {
      val d = v.length
      val out = new Array[Float](d)
      var i = 0
      while (i < d) {
        val s = if ((((i + 1L) * (2L * k + 1L) * 2654435761L >>> 16) & 1L) == 0L) 1f else -1f
        out(i) = s * v((i + 23 * k) % d)
        i += 1
      }
      out
    }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    // Cap at MaxReplicas (1000 since r13; 100 in r9-r12; 10 under the
    // r8 Caesar scheme): the permutation tables are built for replicas
    // 0..MaxReplicas-1 with the row-indexed pairwise-agreement
    // schedule (letters ≤ 6 everywhere; digits ≤ 3 below row 100,
    // ≤ 4 above — see MaxDigitAgreeHigh's soundness note).
    require(factor >= 1 && factor <= MaxReplicas,
      s"bad factor $factor (max $MaxReplicas, see comment)")
    val spark = GraftSession.start(GraftSession.cores)
    import spark.implicits._

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    /** Write df as the single file `<out>/<table>.parquet`. */
    def writeOne(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      val tmp = s"$out/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$out/$table.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[scaleup] wrote $table.parquet")
    }

    // A partial corpus must scale what it has, not crash on what it
    // lacks — every table is guarded (and the relational strides
    // below are lazy so an absent table never forces a read of
    // another absent one).
    def has(table: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$src/$table.parquet"))

    // documents: id shift + per-replica Caesar payload
    if (has("documents")) {
      val docStride = spark.read.parquet(s"$src/documents.parquet")
        .agg(org.apache.spark.sql.functions.max("doc_id")).as[Long].head() + 1
      writeOne(
        spark.read.parquet(s"$src/documents.parquet")
          .as[(Long, String, String, String, Long)]
          .flatMap { case (id, text, lang, source, n) =>
            (0 until factor).iterator.map(k =>
              (id + k * docStride, permuteText(text, k), lang, source, n))
          }.toDF("doc_id", "text", "lang", "source", "n_chars"),
        "documents")
    } else println("[scaleup] skip documents (absent)")

    // embeddings: id shift + signed rotation
    if (has("embeddings")) {
      val vecStride = spark.read.parquet(s"$src/embeddings.parquet")
        .agg(org.apache.spark.sql.functions.max("vec_id")).as[Long].head() + 1
      writeOne(
        spark.read.parquet(s"$src/embeddings.parquet")
          .as[(Long, Array[Float], Int)]
          .flatMap { case (id, emb, label) =>
            (0 until factor).iterator.map(k =>
              (id + k * vecStride, rotateSigned(emb, k), label))
          }.toDF("vec_id", "embedding", "label"),
        "embeddings")
    } else println("[scaleup] skip embeddings (absent)")

    // Relational fact + dim replication: pure key shifts with ONE
    // stride per key FAMILY, computed from the dimension (key-superset)
    // table and applied identically on both sides of every FK — so
    // replica k's lineitem joins replica k's orders/part/supplier and
    // NOTHING dangles (a verbatim-copied orders would leave replicas
    // 1..9 of lineitem unmatched and silently deflate every join
    // query's scaled workload). The order stride is rounded up to a
    // multiple of 8 so the `l_orderkey % 8` graph subset keeps its
    // exact density in every replica. nation/region stay fixed —
    // bounded dims, exactly how real TPC-H scaling treats them.
    import org.apache.spark.sql.functions._
    val reps = spark.range(0, factor).toDF("k")

    // Absent table -> -1 (never read), so a dir with lineitem but no
    // orders/part/supplier fails at the require(stride > 0) below with
    // a message, not an AnalysisException mid-plan; an EMPTY-but-
    // present dim also lands on stride 0 and hits the same require —
    // a zero stride would silently give all replicas identical keys
    // and deflate the scaled join workload.
    def maxKey(table: String, col0: String): Long =
      if (!has(table)) -1L
      else Option(spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col0)).head().get(0))
        .map(_.asInstanceOf[Number].longValue).getOrElse(-1L)

    lazy val ordStride = ((maxKey("orders", "o_orderkey") + 8) / 8) * 8
    lazy val custStride = maxKey("customer", "c_custkey") + 1
    lazy val suppStride = maxKey("supplier", "s_suppkey") + 1
    lazy val partStride = maxKey("part", "p_partkey") + 1

    /** Replicate `table` factor times, shifting each (col -> stride)
      * key by k*stride and keeping every other column verbatim.
      * Missing tables are skipped (partial corpus dirs are legal). */
    // `shifts` is by-name so an absent table never forces the lazy
    // strides (which read OTHER tables that may also be absent)
    def replicate(table: String, shifts: => Seq[(String, Long)]): Unit = {
      if (!has(table)) { println(s"[scaleup] skip $table (absent)"); return }
      val df = spark.read.parquet(s"$src/$table.parquet")
      val shiftMap = shifts.toMap
      for ((c, stride) <- shiftMap)
        require(stride > 0,
          s"replicate($table): stride $stride for $c — the key-superset " +
            "table is absent or empty; a zero stride would collapse all " +
            "replicas onto the same keys")
      writeOne(
        df.crossJoin(broadcast(reps))
          .select(df.columns.map { c =>
            shiftMap.get(c) match {
              case Some(stride) => (col(c) + col("k") * stride).as(c)
              case None => col(c)
            }
          }.toIndexedSeq: _*),
        table)
    }

    replicate("lineitem", Seq("l_orderkey" -> ordStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride))
    replicate("orders", Seq("o_orderkey" -> ordStride, "o_custkey" -> custStride))
    replicate("customer", Seq("c_custkey" -> custStride))
    replicate("supplier", Seq("s_suppkey" -> suppStride))
    replicate("part", Seq("p_partkey" -> partStride))

    // events: replicate into factor DISJOINT user populations with
    // identical temporal structure (ts/event_type/value/props kept) —
    // sessionization, per-user windows, and watermarked streaming
    // replay all see an honest factor-x workload, while calendar-grain
    // relations (day/week rows) stay calendar-bounded as they would in
    // a genuinely larger deployment.
    replicate("events", Seq(
      "event_id" -> (maxKey("events", "event_id") + 1),
      "user_id" -> (maxKey("events", "user_id") + 1)))

    // remaining tables: verbatim byte copies (complete corpus dir)
    for (t <- Seq("region", "nation")) {
      val s = java.nio.file.Paths.get(s"$src/$t.parquet")
      val d = java.nio.file.Paths.get(s"$out/$t.parquet")
      if (java.nio.file.Files.exists(s)) {
        java.nio.file.Files.copy(s, d,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        println(s"[scaleup] copied $t.parquet")
      }
    }
    println(s"[scaleup] done: $out (factor $factor)")
    spark.stop()
  }
}
