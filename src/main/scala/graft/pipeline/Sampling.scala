package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus mixing / sampling for training-data pipelines: deterministic,
  * engine-portable membership so a sample drawn here can be re-derived
  * (and audited) anywhere md5 exists — no RNG state, no seed plumbing,
  * rerun-stable across partitionings and cluster sizes. */
object Sampling {

  /** Uniform hash of (salt, id) in [0, 2^60): the first 15 hex digits of
    * md5 — bit-identical in any engine, unlike builtin hash functions.
    * `concat` (not concat_ws): a NULL id must propagate to a NULL hash
    * and drop the row, exactly as `'salt|' || NULL` does in SQL — the
    * engine-portability contract would break if all null-id rows
    * collapsed onto one shared hash. */
  private[pipeline] def unitHash(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit("|"), id.cast("string"))),
      1, 15), 16, 10).cast("long")

  /** Per-stratum deterministic Bernoulli sampling ("data mixing"): a row
    * survives iff hash(salt, id) mod 1000 falls under its stratum's
    * parts-per-thousand rate. Integer comparisons only — no
    * double-to-long cast whose truncate-vs-round semantics could differ
    * between engines at rate boundaries. Unknown strata fall back to
    * `defaultPpt`. Changing `salt` draws an independent sample; the same
    * salt always reproduces the same membership.
    *
    * Scale: one narrow codegen'd filter pushed at the scan — no
    * shuffle, no state, no driver participation; exactly what a 100 TB
    * mixing pass must be. */
  def stratifiedSample(df: DataFrame, id: String, stratum: String,
      ratesPpt: Map[String, Int], defaultPpt: Int = 0,
      salt: String = "mix"): DataFrame = {
    require(ratesPpt.values.forall(r => r >= 0 && r <= 1000) &&
      defaultPpt >= 0 && defaultPpt <= 1000,
      "rates are parts-per-thousand in [0, 1000]")
    val rate = ratesPpt.toSeq.sortBy(_._1).foldLeft(lit(defaultPpt)) {
      case (acc, (k, v)) => when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(unitHash(col(id), salt), lit(1000L)) < rate)
  }

  /** Temperature-flattened mixture sampling — the multilingual-corpus
    * mixing rule (mC4 / PaLM / XLM-R style): a stratum's target share
    * of the sampled corpus is q_s = n_s^α / Σ_t n_t^α for temperature
    * α in (0, 1]. α = 1 keeps natural proportions; α → 0 approaches
    * uniform across strata — flattening head languages/domains so the
    * tail isn't drowned. Each stratum's parts-per-thousand keep rate
    * is derived IN the plan from its observed size and the row budget
    * `k`: ppt_s = min(1000, round(1000 · k · q_s / n_s)), then rows
    * pass the same deterministic md5 Bernoulli filter as
    * [[stratifiedSample]] — membership replays in any engine.
    *
    * Determinism contract (round 13, after the pagerank stack lesson):
    * every value that can influence membership is EXACT integer
    * arithmetic. n_s^α is carried in 1e-6 "pow units"; for α = 0.5 the
    * grid point is the exact integer sqrt (a double sqrt only SEEDS a
    * Newton correction whose compares are integer — the seed's ULPs
    * cannot change the result), for α = 1 it is n·1e6 exactly, and
    * only for other α does one pow/round per stratum remain a
    * documented one-shot double (not per-row). z is an exact BIGINT
    * sum of pow units; ppt = (2000·k·pu + z·n) div (2·z·n) is the
    * half-up rounding of 1000·k·pu/(z·n) in pure integer/decimal ops.
    * No double touches any emitted or compared value for α ∈ {0.5, 1}.
    * Expected output size is ~k rows (Bernoulli, not exact-k; an
    * exact-k per-stratum cut is `clusterBalance`).
    *
    * Scale: one map-side-combined count per stratum (≤ |strata| rows),
    * a broadcast rate join, and one codegen'd filter pass — no wide
    * shuffle, no driver participation. Returns the surviving rows.
    *
    * BREAKING (round 14): α that encodes no rational p/q with
    * q <= 1e6 (e.g. 0.123456789 read as 123456789/1e9) now throws
    * IllegalArgumentException instead of silently taking the one-shot
    * double pow path — migrate such callers to
    * [[temperatureSampleEstimator]], which owns that documented
    * residual explicitly. Every finitely-typed α (0.7, 0.25, 1/3 as
    * 0.3333333333333333, …) is unaffected and now EXACT. */
  def temperatureSample(df: DataFrame, id: String, stratum: String,
      k: Long, alpha: Double, salt: String = "tmix"): DataFrame = {
    require(k > 0 && k <= 1000000000000000L,
      "row budget k must be in (0, 1e15]")
    temperatureSampleImpl(df, id, stratum, lit(k), alpha, salt)
  }

  /** As [[temperatureSample]] but the row budget is derived IN the
    * plan as total_rows div budgetDiv (e.g. 10 → keep ~a tenth of the
    * corpus) — the stratum-count aggregation already computes the
    * total, so sizing the budget costs no extra pass and no separate
    * driver-side count job. */
  def temperatureSampleBudgetDiv(df: DataFrame, id: String,
      stratum: String, budgetDiv: Long, alpha: Double,
      salt: String = "tmix"): DataFrame = {
    require(budgetDiv > 0, "budgetDiv must be positive")
    temperatureSampleImpl(df, id, stratum,
      expr(s"__ntot div CAST($budgetDiv AS BIGINT)"), alpha, salt)
  }

  /** The continued-fraction convergent p/q (q <= maxDen) that
    * reproduces `alpha`'s double bits to within 4 ulps — i.e. the
    * rational number the caller actually typed (0.7 -> 7/10, 0.25 ->
    * 1/4, 1/3 written as 0.3333333333333333 -> 1/3). A pure function
    * of the double bits: every engine recovers the same (p, q). */
  private[graft] def asRational(alpha: Double,
      maxDen: Long = 1000000L): Option[(Long, Long)] = {
    var h0 = 0L; var h1 = 1L; var k0 = 1L; var k1 = 0L
    var x = alpha
    var i = 0
    while (i < 40) {
      val a = math.floor(x).toLong
      // a huge partial quotient (frac just above the 1e-15 cutoff
      // gives a ~ 1e15) would wrap h2 = a*h1 + h0 and continue the
      // loop on corrupted state; past the first iteration k1 >= 1, so
      // a > maxDen forces k2 > maxDen anyway — bail BEFORE the
      // multiply, which also bounds every h/k by ~maxDen^2 (no
      // overflow at maxDen = 1e6). First iteration is safe: x = alpha
      // <= 1 so a <= 1.
      if (a > maxDen && k1 > 0) return None
      val h2 = a * h1 + h0; val k2 = a * k1 + k0
      if (k2 > maxDen) return None
      if (k2 > 0 &&
          math.abs(h2.toDouble / k2.toDouble - alpha) <=
            4 * math.ulp(alpha)) return Some((h2, k2))
      val frac = x - a
      if (frac < 1e-15) return None
      x = 1.0 / frac
      h0 = h1; h1 = h2; k0 = k1; k1 = k2
      i += 1
    }
    None
  }

  /** Floor of the q-th root of a non-negative BigInteger: Newton from
    * a power-of-two overestimate (monotone decreasing), integer-exact
    * final adjust. O(log) BigInteger ops per call — called once per
    * STRATUM, never per row. */
  private def iroot(x: java.math.BigInteger, q: Int)
      : java.math.BigInteger = {
    import java.math.BigInteger
    if (x.signum == 0) return BigInteger.ZERO
    val bq = BigInteger.valueOf(q.toLong)
    val bq1 = BigInteger.valueOf(q.toLong - 1)
    var r = BigInteger.ONE.shiftLeft(x.bitLength() / q + 1)
    var done = false
    while (!done) {
      // r' = ((q-1)·r + x / r^(q-1)) / q
      val next = bq1.multiply(r).add(x.divide(r.pow(q - 1))).divide(bq)
      if (next.compareTo(r) >= 0) done = true else r = next
    }
    while (r.pow(q).compareTo(x) > 0) r = r.subtract(BigInteger.ONE)
    while (r.add(BigInteger.ONE).pow(q).compareTo(x) <= 0)
      r = r.add(BigInteger.ONE)
    r
  }

  /** Attaches `__pu` = n^α in exact 1e-6 "pow units" to a counts frame
    * with column `__n` — EXACT INTEGER arithmetic for every α the
    * hashed-membership contract accepts. α = 0.5: pu =
    * round_half_up(sqrt(n)·1e6) computed EXACTLY as
    * (isqrt(4·n·1e12) + 1) div 2 (the double sqrt only SEEDS a Newton
    * correction whose compares are integer — seed absolute error ≤
    * sqrt(n)·2e-10 < 1 for n ≤ 1e18). α = 1: pu = n·1e6. Any other α
    * is interpreted as the rational p/q its double bits encode
    * ([[asRational]]) and computed exactly on the driver per STRATUM:
    * pu = (iroot_q(n^p · (2e6)^q) + 1) div 2, which IS half-up of
    * n^(p/q)·1e6 including at .5 grid points ((2m+1+1) div 2 = m+1) —
    * BigInteger throughout, no libm call anywhere (round-13 pagerank
    * lesson generalized: no double may reach a hashed output). An α
    * that encodes no small rational (q > 1e6) raises — route genuinely
    * irrational temperatures through [[temperatureSampleEstimator]],
    * which owns the documented one-shot-double residual instead of
    * hiding it under the exact contract. */
  private[graft] def powUnits(counts: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    if (alpha == 1.0)
      counts.withColumn("__pu", expr("__n * CAST(1000000 AS BIGINT)"))
    else if (alpha == 0.5)
      counts
        .withColumn("__m", expr(
          "CAST(__n AS DECIMAL(20,0)) * CAST(4000000000000 AS DECIMAL(13,0))"))
        .withColumn("__s0", expr(
          "CAST(FLOOR(SQRT(CAST(__n AS DOUBLE)) * 2000000.0D) AS BIGINT)"))
        .withColumn("__pu", expr(
          "(__s0 + (CASE WHEN CAST(__s0 + 1 AS DECIMAL(16,0))" +
            " * CAST(__s0 + 1 AS DECIMAL(16,0)) <= __m THEN 1" +
            " WHEN CAST(__s0 AS DECIMAL(16,0))" +
            " * CAST(__s0 AS DECIMAL(16,0)) > __m THEN -1" +
            " ELSE 0 END) + 1) div 2"))
        .drop("__m", "__s0")
    else {
      val (p, q) = asRational(alpha).getOrElse(throw new
        IllegalArgumentException(
          s"alpha=$alpha encodes no rational p/q with q <= 1e6; the " +
            "exact-integer contract cannot hold it — use " +
            "temperatureSampleEstimator for irrational temperatures"))
      val g = java.math.BigInteger.valueOf(p)
        .gcd(java.math.BigInteger.valueOf(q)).longValueExact()
      val (pr, qr) = ((p / g).toInt, (q / g).toInt)
      val twoM = java.math.BigInteger.valueOf(2000000L).pow(qr)
      val pow6 = udf { n: Long =>
        val x = java.math.BigInteger.valueOf(n).pow(pr).multiply(twoM)
        iroot(x, qr).add(java.math.BigInteger.ONE)
          .shiftRight(1).longValueExact()
      }
      counts.withColumn("__pu", pow6(col("__n").cast("long")))
    }
  }

  /** The pre-round-14 general-α path, explicitly estimator-named: one
    * round(pow(n, α), 6) DOUBLE per stratum lands on the 6dp grid —
    * the documented residual engine risk (JVM vs libm pow may differ
    * >= 1 ULP on a grid-boundary value), acceptable for exploratory
    * mixing, excluded from the exact hashed-membership contract. */
  private[graft] def powUnitsEstimator(counts: DataFrame,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    counts.withColumn("__pu", expr(
      s"CAST(CAST(round(pow(CAST(__n AS DOUBLE), ${alpha}D), 6)" +
        " AS DECIMAL(28,6)) * 1000000 AS BIGINT)"))
  }

  /** Per-stratum keep rates in parts-per-thousand under the
    * temperature-flattening rule — the (bounded, broadcastable)
    * `(__s, __ppt)` frame [[temperatureSample]] filters with. Exposed
    * so the SAME rates can drive the stateless streaming guard
    * ([[graft.streaming.StreamText.temperatureMixStream]]): a batch
    * corpus establishes the mixture, an unbounded feed replays the
    * identical integer membership predicate.
    *
    * BREAKING (round 14): same α contract as [[temperatureSample]] —
    * an α whose double encodes no rational p/q with q <= 1e6 throws;
    * route irrational temperatures through
    * [[temperatureSampleEstimator]]. */
  def temperatureRates(df: DataFrame, stratum: String, kCol: Column,
      alpha: Double, estimator: Boolean = false): DataFrame = {
    val counts = df.groupBy(col(stratum).as("__s"))
      .agg(count(lit(1)).as("__n"))
    val withPu = if (estimator) powUnitsEstimator(counts, alpha)
      else powUnits(counts, alpha)
    // z: exact BIGINT sum of pow units (order-independent); __ntot
    // feeds the in-plan budget variant and costs nothing extra
    val z = withPu
      .agg(sum(col("__pu")).as("__z"), sum(col("__n")).as("__ntot"))
      .select(col("__z"), kCol.cast("long").as("__k"))
    // ppt = half-up(1000·k·pu / (z·n)) = (2000·k·pu + z·n) div (2·z·n)
    // — decimal(≤38,0) products stay integer-exact at these magnitudes
    // (k ≤ 1e15, pu ≤ 1e15, z ≤ 1e19, n ≤ 1e18), div is integral
    withPu.crossJoin(broadcast(z))
      .select(col("__s"),
        least(lit(1000L), expr(
          "(CAST(2000 AS DECIMAL(4,0)) * CAST(__k AS DECIMAL(16,0))" +
            " * CAST(__pu AS DECIMAL(17,0))" +
            " + CAST(__z AS DECIMAL(19,0)) * CAST(__n AS DECIMAL(18,0)))" +
            " div (2 * CAST(__z AS DECIMAL(19,0))" +
            " * CAST(__n AS DECIMAL(18,0)))")).as("__ppt"))
  }

  /** Stateless membership application of a [[temperatureRates]] frame:
    * one broadcast equi-join + the integer md5 filter. `df` may be a
    * batch frame OR a streaming one (stream-static broadcast join, no
    * state store, no watermark) — the expression tree is identical, so
    * stream output equals the batch operator's on the same rows. */
  def applyTemperatureRates(df: DataFrame, id: String, stratum: String,
      rates: DataFrame, salt: String = "tmix"): DataFrame =
    df.join(broadcast(rates), col(stratum) === col("__s"))
      .filter(pmod(unitHash(col(id), salt), lit(1000L)) < col("__ppt"))
      .drop("__s", "__ppt")

  private def temperatureSampleImpl(df: DataFrame, id: String,
      stratum: String, kCol: Column, alpha: Double,
      salt: String, estimator: Boolean = false): DataFrame =
    applyTemperatureRates(df, id, stratum,
      temperatureRates(df, stratum, kCol, alpha, estimator), salt)

  /** [[temperatureSample]] for temperatures the exact-integer contract
    * cannot carry (α whose double encodes no rational p/q, q <= 1e6 —
    * e.g. α = 1/π): the per-stratum rate derivation takes ONE
    * round(pow(n, α), 6) double on a 6dp grid, a documented estimator
    * residual (engines may disagree >= 1 ULP at a grid boundary).
    * Membership is still the deterministic md5 filter; only the RATE a
    * stratum gets carries the estimator risk. Prefer
    * [[temperatureSample]] — every finitely-typed α (0.7, 0.25, …)
    * routes there exactly. */
  def temperatureSampleEstimator(df: DataFrame, id: String,
      stratum: String, k: Long, alpha: Double,
      salt: String = "tmix"): DataFrame = {
    require(k > 0 && k <= 1000000000000000L,
      "row budget k must be in (0, 1e15]")
    temperatureSampleImpl(df, id, stratum, lit(k), alpha, salt,
      estimator = true)
  }

  /** Deterministic train/val/test (or any named-bucket) split: the
    * md5 hash of (salt, id) mod 1000 walks the cumulative rate table,
    * so every row lands in exactly one split, membership re-derives in
    * any engine, and adding a row never moves another row's split.
    * `splitsPpt` lists (name, parts-per-thousand) in priority order;
    * they must sum to 1000. One narrow projection — no shuffle. */
  def assignSplit(df: DataFrame, id: String,
      splitsPpt: Seq[(String, Int)], salt: String = "split",
      outName: String = "split"): DataFrame =
    df.withColumn(outName, splitColumn(col(id), splitsPpt, salt))

  /** The split-assignment expression itself — a pure function of the
    * id, so leakage audits can stamp split names onto pair streams
    * without joining the corpus back. */
  def splitColumn(id: Column, splitsPpt: Seq[(String, Int)],
      salt: String = "split"): Column = {
    require(splitsPpt.map(_._2).sum == 1000 &&
      splitsPpt.forall(_._2 >= 0), "split rates must sum to 1000 ppt")
    val u = pmod(unitHash(id, salt), lit(1000L))
    val cum = splitsPpt.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    // default = the LAST split (SQL CASE ... ELSE semantics): a NULL id
    // hashes to NULL, every `when` is null-false, and the row must still
    // land in exactly one split — same place a SQL re-derivation puts it
    splitsPpt.zip(cum).init
      .foldRight(lit(splitsPpt.last._1)) {
        case (((name, _), upper), acc) => when(u < upper, lit(name))
          .otherwise(acc)
      }
  }

  /** Deterministic global shuffle for training order: rank every row by
    * the md5 hash of (salt, id) — a reproducible pseudo-random
    * permutation. The rank is the two-phase distributed scan
    * (`operators.Scans.runningCount` over the hash order), never a
    * single-task global row_number window; at cluster scale this is one
    * range exchange on a uniform key. Ties (hash collisions) break by
    * id, so the permutation is total and stable. */
  def shuffleRank(df: DataFrame, id: String, salt: String = "shuffle",
      outName: String = "shuffle_rank"): DataFrame =
    graft.operators.Scans
      .runningCount(df.withColumn("__h", unitHash(col(id), salt)),
        Seq("__h", id), outName, inclusive = true)
      .drop("__h")

  /** Sequence packing ("concatenate and chunk"): lay documents
    * end-to-end in `id` order and cut fixed windows of `windowTokens`
    * tokens — each doc learns its window span (`window_start`,
    * `window_end`) and offset within its first window, i.e. exactly
    * where its tokens land in the packed training batches. The global
    * token prefix-sum is the two-phase distributed scan
    * (`operators.Scans.runningSum`) — one range exchange + an O(parts)
    * prefix combine, never a single-task global window, so the packing
    * plan is the same at 100 TB as at test scale. Deterministic in the
    * id order: re-running yields byte-identical window assignments. */
  def packSequences(df: DataFrame, id: String, tokenCount: Column,
      windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val withN = df.withColumn("__n", tokenCount.cast("long"))
    // runningAgg with LONG sum (runningSum widens to double; token
    // positions must stay exact integers)
    graft.operators.Scans
      .runningAgg(withN, Seq(id), col("__n"), sum,
        (off, run) => coalesce(off, lit(0L)) + coalesce(run, lit(0L)),
        "__end", inclusive = true)
      .withColumn("__start", col("__end") - col("__n"))
      .withColumn("window_start",
        floor(col("__start") / windowTokens).cast("long"))
      // empty docs (n = 0) sit AT their start boundary: clamp the end
      // window up to the start window instead of floor((e-1)/W) = -1
      .withColumn("window_end",
        greatest(floor((col("__end") - 1) / windowTokens).cast("long"),
          col("window_start")))
      .withColumn("window_offset",
        pmod(col("__start"), lit(windowTokens.toLong)))
      .drop("__n", "__start", "__end")
  }

  /** Contrastive triplet mining — the (anchor, positive, negative)
    * prep for embedding-model training: every near-dup pair from a
    * caller-supplied pair table (typically `Dedup.minhashPairs` /
    * `semDedup` output) gains `nNeg` deterministic negatives. The
    * negative pool is the corpus hash-thinned by `poolMod` (pick it so
    * corpus/poolMod is broadcast-sized — the pool crossing is anchor ×
    * pool with the pool broadcast, never corpus²); candidates exclude
    * the anchor itself and everything paired with it, and rank per
    * anchor by the md5 hash of (salt, anchor, candidate) — the same
    * engine-portable determinism as every sampler here, so the mined
    * triplets replay anywhere. */
  def tripletMine(pairs: DataFrame, docs: DataFrame, id: String,
      nNeg: Int = 2, poolMod: Int = 25, salt: String = "neg",
      poolCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = pairs.select(col("id_a").as("anchor"),
      col("id_b").as("positive"))
    // the pool must be BOUNDED, not a corpus fraction: anchors × pool
    // is the candidate volume, and a mod-only thinning makes it
    // O(n²/poolMod) — 10× data ran 83× slower before the cap. The cap
    // keeps the deterministic subset (smallest pool hashes win) and
    // the broadcast contract at any corpus size.
    val pool = docs.select(col(id).as("neg"),
        unitHash(col(id), s"$salt-pool").as("__ph"))
      .filter(pmod(col("__ph"), lit(poolMod.toLong)) === 0L)
      .orderBy(col("__ph").asc, col("neg").asc).limit(poolCap)
      .select("neg")
    val adjacency = pairs
      .select(col("id_a").as("anchor"), col("id_b").as("neg"))
      .union(pairs.select(col("id_b").as("anchor"),
        col("id_a").as("neg")))
    val cand = anchors.select("anchor").distinct()
      .crossJoin(broadcast(pool))
      .filter(col("anchor") =!= col("neg"))
      .join(adjacency, Seq("anchor", "neg"), "left_anti")
      .withColumn("__h", unitHash(
        concat(col("anchor").cast("string"), lit("|"),
          col("neg").cast("string")), salt))
    val w = Window.partitionBy("anchor")
      .orderBy(col("__h").asc, col("neg").asc)
    val negs = cand
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= nNeg)
      .select("anchor", "neg", "neg_rank")
    anchors.join(negs, Seq("anchor"))
      .select(col("anchor"), col("positive"),
        col("neg").as("negative"), col("neg_rank"))
  }

  /** Length-bucketed batch assignment — the pad-minimizing batch prep:
    * rows bucket by token count against ascending `bounds`
    * (bucket = #bounds <= n, so bucket 0 is "below the first bound"),
    * rank within their bucket in id order, and group every `batchSize`
    * consecutive ranks into one batch — padding waste per batch is then
    * bounded by its bucket's width instead of the corpus max length.
    *
    * Scale shape: the in-bucket rank is the GLOBAL two-phase
    * distributed scan over (bucket, id) minus each bucket's broadcast
    * offset (per-bucket counts are a #buckets-row aggregate) — one
    * range exchange on a uniform key, never a per-bucket single-task
    * window (a `Window.partitionBy(bucket)` would funnel the corpus
    * into #buckets tasks). Deterministic in (bucket, id) order;
    * membership replays in any engine. */
  def lengthBucketBatches(df: DataFrame, id: String,
      tokenCount: Column, bounds: Seq[Long], batchSize: Int)
      : DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted,
      "bounds must be ascending")
    require(batchSize > 0, "batchSize must be positive")
    val n = tokenCount.cast("long")
    val bucket = bounds.map(b => (n >= b).cast("long")).reduce(_ + _)
    // consumed by the count agg AND the scan: pin once
    val withB = df.withColumn("bucket", bucket).localCheckpoint(false)
    val counts = withB.groupBy("bucket")
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = counts.keys.toSeq.sorted
      .foldLeft((Map.empty[Long, Long], 0L)) { case ((m, acc), b) =>
        (m + (b -> acc), acc + counts(b))
      }._1
    val offExpr = offsets.foldLeft(lit(0L)) { case (acc, (b, o)) =>
      when(col("bucket") === b, lit(o)).otherwise(acc)
    }
    graft.operators.Scans
      .runningCount(withB, Seq("bucket", id), "__gr", inclusive = true)
      .withColumn("rank_in_bucket", col("__gr") - 1 - offExpr)
      .withColumn("batch_id",
        floor(col("rank_in_bucket") / batchSize).cast("long"))
      .drop("__gr")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * the exponential-clocks / A-ES scheme): every row draws
    * key = ln(u) / w with u uniform in (0,1), and the k LARGEST keys
    * are exactly a weighted sample without replacement ∝ w. Here u
    * derives from the md5 unit hash of (salt, id) — deterministic,
    * rerun-stable, engine-portable — and keys round to 6dp DECIMAL so
    * the selection replays bit-for-bit in SQL (the same trick
    * `dsirSelect`'s Gumbel-max uses; Gumbel-max IS this scheme in
    * log-weight space).
    *
    * Weights are normalized by the corpus max BEFORE dividing —
    * key = ln(u) / (w / max(w)) — because selection ∝ w is invariant
    * under a positive scalar on all weights, but 6-ABSOLUTE-decimal
    * rounding is not: ln(u) is bounded in [-14.5, 0), so for raw
    * weights ≥ ~1e4 unnormalized keys collapse onto ~14.5e6/w grains
    * (and to a single 0.000000 grain past ~1.45e7), degenerating the
    * heavy-row order to lowest-id. Normalizing puts the rows that
    * contend for the top-k (w near max) on the finest grain always,
    * at any weight magnitude — e.g. n_chars on large web documents.
    *
    * Scale: one partial-agg max pass (broadcast back as a scalar) +
    * one narrow projection + TakeOrdered — no wide shuffle, no state;
    * the 100 TB shape of "sample 1M docs ∝ quality score". Rows with
    * weight <= 0 or a NULL id never selected. Returns the k sampled
    * rows as (id, weight, samp_key), key-descending. */
  def weightedSample(df: DataFrame, id: String, weight: Column, k: Int,
      salt: String = "wsample"): DataFrame = {
    require(k > 0, "k must be positive")
    val pos = df.select(col(id), weight.cast("double").as("weight"))
      .filter(col("weight") > 0)
    val wMax = pos.agg(max(col("weight")).as("w_max"))
    val u = (pmod(unitHash(col(id), salt), lit(1000000L))
      .cast("double") + 0.5) / 1000000.0
    // exact expression order matters cross-engine: ln(u)/(w/wmax), NOT
    // ln(u)*wmax/w — the oracle SQL replays this shape token for token
    val key = round(log(u) / (col("weight") / col("w_max")), 6)
      .cast("decimal(18,6)")
    pos.crossJoin(broadcast(wMax))
      .select(col(id), col("weight"), key.cast("double").as("samp_key"))
      .filter(col("samp_key").isNotNull)
      .orderBy(col("samp_key").desc, col(id).asc)
      .limit(k)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score every document by how much more likely its hashed-n-gram bag
    * is under a TARGET distribution (e.g. a trusted high-quality slice)
    * than under the raw corpus, then draw the k winners of the
    * Gumbel-max trick over those log-ratios — i.e. a without-replacement
    * sample ∝ exp(weight), the paper's resampling step, made
    * deterministic by deriving the Gumbel noise from the md5 unit hash
    * instead of an RNG.
    *
    * Features are unigrams + bigrams of the whitespace tokens, hashed
    * into `numBuckets` buckets (the hashing trick) — the feature space
    * is FIXED at numBuckets regardless of corpus size, which is the
    * whole scale story: bucket counts are one map-side-combined
    * aggregation to ≤ numBuckets rows, the per-bucket log-ratio table
    * broadcasts, and the per-doc weight pass is a broadcast join + one
    * doc-keyed aggregation. Two corpus scans, no wide shuffle beyond
    * the doc-keyed agg. Per-bucket log-ratios round to 6dp DECIMAL and
    * sum exactly (order-independent), so weights replay in any engine
    * with md5 + ln.
    *
    * Smoothing: add-one on bucket counts against (total + numBuckets) —
    * weight(d) = Σ_f n_d(f) · [ln((ct_f+1)/(T+B)) − ln((cr_f+1)/(R+B))]
    * where ct/cr are target/raw occurrence counts of f's bucket, T/R
    * the total target/raw feature occurrences.
    *
    * Returns the k selected rows (id, weight, sel_key = weight +
    * gumbel), key-descending; ties break by ascending id. */
  def dsirSelect(df: DataFrame, id: String, text: String,
      isTarget: Column, k: Int, numBuckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    require(k > 0 && numBuckets > 0, "k and numBuckets must be positive")
    // unigram+bigram buckets WITH multiplicity (bag-of-ngrams) in one
    // fused per-row kernel pass (DsirBucketsExpr — bit-identical to the
    // oracle's md5 chain; the builtin formulation paid an interpreted
    // transform lambda + hex/conv parse per gram, ~4× this gate's cost).
    // The exploded stream is recomputed per consumer (two corpus scans)
    // rather than checkpointed: it is gram-scaled, the same order as
    // the input, and at 100 TB re-tokenizing beats materializing it.
    // Each consumer aggregates it map-side straight to its own small
    // key space (≤numBuckets buckets / one row per doc), so neither
    // pass shuffles gram-scaled data.
    def bucketed = df
      .select(col(id).as("doc"), isTarget.as("__t"),
        explode(graft.functions.TextKernels.dsirBuckets(
          Text.tokens(col(text)), numBuckets, s"$salt-feat")).as("b"))
    val counts = bucketed.groupBy("b")
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .localCheckpoint(false)
    val totRow = counts
      .agg(sum("ct").as("t"), sum("cr").as("r")).head()
    require(!totRow.isNullAt(0) && !totRow.isNullAt(1),
      "dsirSelect: corpus has no tokens")
    val (tTot, rTot) = (totRow.getLong(0), totRow.getLong(1))
    val logw = counts.select(col("b"),
      round(log((col("ct") + 1.0) / lit(tTot.toDouble + numBuckets))
        - log((col("cr") + 1.0) / lit(rTot.toDouble + numBuckets)), 6)
        .cast("decimal(18,6)").as("lw"))
    // deterministic Gumbel: u from the md5 unit hash thinned to 1e6
    // grains (bounded away from 0 and 1 — no ±Inf at the extremes)
    val u = (pmod(unitHash(col("doc"), salt), lit(1000000L))
      .cast("double") + 0.5) / 1000000.0
    val gumbel = round(-log(-log(u)), 6).cast("decimal(18,6)")
    bucketed
      .join(broadcast(logw), Seq("b"))
      .groupBy("doc")
      .agg(sum(col("lw")).as("__w"))
      .withColumn("sel_key", (col("__w") + gumbel).cast("double"))
      .select(col("doc").as(id), col("__w").cast("double").as("weight"),
        col("sel_key"))
      .orderBy(col("sel_key").desc, col(id).asc)
      .limit(k)
  }

  /** Deterministic up/down-weighting by repetition ("epochs" per
    * stratum): emit floor(weight) copies of every row plus one more for
    * the deterministic fractional remainder — the standard way to
    * express domain weights > 1 in a mixed corpus. The copy index is
    * exposed as `rep` so downstream shuffles can decorrelate copies.
    * Scale: a generator (explode of a small int range) — output is
    * exactly weight × input in expectation with zero shuffle. */
  def repeatByWeight(df: DataFrame, id: String, stratum: String,
      weightsPct: Map[String, Int], defaultPct: Int = 100,
      salt: String = "epoch"): DataFrame = {
    require(weightsPct.values.forall(_ >= 0) && defaultPct >= 0,
      "weights are percent >= 0")
    val pct = weightsPct.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, v)) => when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    val whole = (pct / 100).cast("long")
    val fracPct = pmod(pct, lit(100L))
    val extra = (pmod(unitHash(col(id), salt), lit(100L)) < fracPct)
      .cast("long")
    df.withColumn("__n", whole + extra)
      .filter(col("__n") > 0)
      .withColumn("rep", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }
}
