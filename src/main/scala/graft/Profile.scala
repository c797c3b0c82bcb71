package graft

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurements no timer gives: ANN recall against the exact top-k, the
  * merged-vs-rebuilt dedup index check, and the `plans/` artifacts.
  * Timing comes from `perfbench --trace 1` or `graft.Bench <keys>`.
  */
object Profile {

  private val usage =
    """usage: runMain graft.Profile <sfDir> <mode> [args]
      |  dumpplans <outDir> <q1,q2,...> [suffix]   formatted plans, one file per query
      |  recall                                   LSH/IVF recall@10 vs brute force
      |  graphrecall [degree] [corpus] [slices]   graph-ANN recall@5 over a (beam, hops) sweep
      |  dedupinc                                 merged index vs from-scratch rebuild""".stripMargin

  def main(args: Array[String]): Unit = {
    val mode = args.drop(1).headOption.getOrElse("")
    if (!Set("dumpplans", "recall", "graphrecall", "dedupinc")(mode) ||
        mode == "dumpplans" && args.length < 4) {
      System.err.println(usage)
      sys.exit(2)
    }
    val sfDir = args(0)
    // decade-scale recall rows (sf100-class frames: the 2e9-row NSW
    // closure) need more shuffle partitions than cpus, or a single
    // distinct/groupBy task holds 64M+ rows and OOMs; AQE coalesces the
    // excess away on small runs. Those runs also chain multi-10-GB shuffle
    // generations across jobs; the default 30 min periodic GC lets dead
    // generations pile up on one box's disk, so collect them promptly and
    // peak scratch stays ≈ one round's live generations
    val spark = GraftSession.start("graft-profile",
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_PARTS", GraftSession.cpus.toString),
      "spark.cleaner.periodicGC.interval" -> "45s")
    val ok = try mode match {
      case "dumpplans" => dumpPlans(spark, sfDir, args(2), args(3).split(",").toSeq,
        args.drop(4).headOption.getOrElse("")); true
      case "recall" => recall(spark, sfDir); true
      case "graphrecall" => graphRecall(spark, sfDir,
        degreeArg = args.drop(2).headOption.map(_.toInt).getOrElse(0),
        corpusFilter = args.drop(3).headOption,
        slicesArg = args.drop(4).headOption.map(_.toInt).getOrElse(1)); true
      case "dedupinc" => dedupInc(spark, sfDir)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `.explain("formatted")` of each named query to `<outDir>/<name><suffix>.txt`
    * (the `plans/` artifact generator — checkable plan claims). */
  private def dumpPlans(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String], suffix: String): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"$name$suffix.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"[dumpplans] wrote $p (${plan.linesIterator.size} lines)")
    }
  }

  private def neighborPairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("probe_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Clustered corpus of `n` unit vectors: 20 unit-sphere centers, vectors
    * = normalize(center + 0.35·gaussian noise), in-cluster cosine ≈ 0.9 —
    * the case users actually have, where cell routing carries real signal.
    * Hash-seeded like GenData, so reproducible anywhere. Materialized once:
    * Lloyd's per-iteration jobs would otherwise recompute the 128-hash
    * Box–Muller tree every pass (measured 314 s vs ~3 s at 2k vectors). */
  private def clustered(spark: SparkSession, n: Long): DataFrame = {
    def gauss(salt: Int, keyCol: Column) =
      transform(sequence(lit(1), lit(64)), i =>
        sqrt(-lit(2.0) * log(lit(1.0) - GenData.u01(salt, keyCol, i)))
          * cos(lit(2.0 * math.Pi) * GenData.u01(salt + 1, keyCol, i)))
    spark.range(n)
      .select(col("id"), (col("id") % 20).as("_c"))
      .select(col("id"),
        zip_with(gauss(50, col("_c")), gauss(60, col("id")),
          (c, g) => c + lit(0.35) * g).as("_v"))
      .select(col("id"),
        aggregate(col("_v"), lit(0.0), (acc, x) => acc + x * x).as("_n2"),
        col("_v"))
      .select(col("id").as("vec_id"),
        transform(col("_v"), x => (x / sqrt(col("_n2"))).cast("float"))
          .as("embedding"))
      .localCheckpoint(true)
  }

  /** recall@10 of the LSH and IVF variants vs the exact brute-force top-k,
    * on the uniform embeddings table (the adversarial floor: no cluster
    * structure, so a coarse quantizer can't beat ~2× random scan) and on
    * the [[clustered]] corpus of the same size. */
  private def recall(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Similarity
    def runRecall(corpus: String, emb: DataFrame): Unit = {
      val probes = emb.filter(col("vec_id") < 50)
      val k = 10
      val t0 = System.nanoTime()
      val exact = neighborPairs(Similarity.knnBruteForce(
        emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
      println(f"[recall] $corpus brute ${secs(t0)}%.1fs")
      Seq(
        "lsh(multiProbe=false)" -> Similarity.knnLsh(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, planes = 8, multiProbe = false),
        "lsh(multiProbe=true)" -> Similarity.knnLsh(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, planes = 8, multiProbe = true),
        "ivf(nlist=16,nprobe=4)" -> Similarity.knnIvf(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, nlist = 16, nprobe = 4)
      ).foreach { case (name, df) =>
        val t1 = System.nanoTime()
        val got = neighborPairs(df)
        val recall = (exact & got).size.toDouble / exact.size
        println(f"[recall] $corpus%-10s $name%-24s recall@$k = $recall%.3f " +
          f"(candidates returned: ${got.size}; ${secs(t1)}%.1fs)")
      }
    }
    val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
    runRecall("uniform", uniform)
    runRecall("clustered", clustered(spark, uniform.count()))
  }

  /** Graph-ANN recall@5 vs the exact top-k on the same two corpora as
    * [[recall]], with a (beam, hops) sweep over ONE built index per corpus
    * — the r13 decade question: recall@5 fell 1.00 → 0.80 → 0.50 across
    * sf0.01→sf1 at fixed (deg 16, beam 8, 4 hops), so measure sf10 and
    * derive the parameter rule (candidates scored per probe ≈ entries +
    * degree + hops·beam·2·degree stays O(1) in N either way). Args:
    * degree override (0 = the degreeFor rule), corpus filter, buildSlices
    * (1 = the single-job build; >1 = the src-sliced disk-bounded build,
    * SURVEY §6 r17). */
  private def graphRecall(spark: SparkSession, sfDir: String, degreeArg: Int,
      corpusFilter: Option[String], slicesArg: Int): Unit = {
    import graft.operators.Similarity
    def runGraphRecall(corpus: String, emb: DataFrame): Unit = {
      val n = emb.count()
      val probes = emb.filter(col("vec_id") < 8).localCheckpoint(true)
      val k = 5
      val t0 = System.nanoTime()
      val exact = neighborPairs(Similarity.knnBruteForce(
        emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
      println(f"[graphrecall] $corpus n=$n brute ${secs(t0)}%.1fs")
      val degree = if (degreeArg > 0) degreeArg else Similarity.degreeFor(n)
      val bits = Similarity.bandBitsFor(n, 96)
      val t1 = System.nanoTime()
      val index = Similarity.nswIndex(emb, "vec_id", "embedding",
        degree = degree, fineBits = bits, buildSlices = slicesArg)
      index.near.count() // force the build before timing searches
      println(f"[graphrecall] $corpus index build ${secs(t1)}%.1fs " +
        s"(degree=$degree fineBits=$bits slices=$slicesArg)")
      // (beamFor(degree), 4) first — the rule's own default walk point
      for ((beam, hops) <- (Seq((Similarity.beamFor(degree), 4),
          (8, 4), (16, 4), (8, 6), (16, 6), (32, 6), (32, 8))).distinct) {
        val t2 = System.nanoTime()
        val got = neighborPairs(Similarity.knnGraphSearch(index, emb, probes,
          "vec_id", "embedding", "vec_id", "embedding",
          k, beam = beam, hops = hops, entries = 4))
        val recall = (exact & got).size.toDouble / exact.size
        val budget = 4 + degree + hops * beam * 2 * degree
        println(f"[graphrecall] $corpus%-10s beam=$beam%-3d hops=$hops%-2d " +
          f"recall@$k = $recall%.3f (scored/probe ≤ $budget; ${secs(t2)}%.1fs)")
      }
    }
    val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = uniform.count()
    if (corpusFilter.forall(_ == "uniform")) runGraphRecall("uniform", uniform)
    if (corpusFilter.forall(_ == "clustered")) runGraphRecall("clustered", clustered(spark, n))
  }

  /** q_dedup_exact_inc at scale: the corpus fingerprint index (the
    * persist-once leg) apart from the serving leg (batch fingerprints
    * probe the index by equi-join), then the merged-index ROUND-TRIP (§6
    * r17): fold the batch's delta into the index (O(batch)), re-probe a
    * SECOND disjoint batch against the merged index and against a
    * from-scratch rebuild over corpus ∪ batch. The two must agree on every
    * (doc_id, status) decision AND on the fingerprint set. keep_ids can
    * legitimately differ where a fingerprint lives in both corpus and
    * batch: merged keeps the corpus canonical (the stability contract), a
    * rebuild takes the global min id; statuses depend only on the
    * fingerprint SET. Mirrors the gate: batch = doc_id % 5 == 0 (~20 %),
    * corpus = the rest. False on a MISMATCH. */
  private def dedupInc(spark: SparkSession, sfDir: String): Boolean = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val t0 = System.nanoTime()
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
      .localCheckpoint(true)
    val nIdx = index.count()
    println(f"[dedupinc] corpus index ${secs(t0)}%.1fs ($nIdx fingerprints)")
    val t1 = System.nanoTime()
    val decided = Dedup.exactAgainst(index, batch, "doc_id", "text")
      .localCheckpoint(true)
    val byDecision = decided.groupBy(col("status")).count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    println(f"[dedupinc] batch probe ${secs(t1)}%.1fs " +
      byDecision.mkString("(", " ", ")"))
    // summed as decimal: a bigint sum of 64-bit hashes overflows (ANSI)
    def setHash(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head().getDecimal(0)
    val batch2 = docs.filter(pmod(col("doc_id"), lit(5L)) === 1L)
    val t2 = System.nanoTime()
    val merged = Dedup.mergeIndex(index, decided).localCheckpoint(true)
    println(f"[dedupinc] merge delta ${secs(t2)}%.1fs " +
      f"(${merged.count()} fingerprints)")
    val t3 = System.nanoTime()
    val viaMerged = Dedup.exactAgainst(merged, batch2, "doc_id", "text")
      .select(col("doc_id"), col("status"))
    val probe2Hash = setHash(viaMerged)
    println(f"[dedupinc] batch2 re-probe ${secs(t3)}%.1fs")
    val t4 = System.nanoTime()
    val scratch = Dedup.fingerprintIndex(
      corpus.unionByName(batch), "doc_id", "text").localCheckpoint(true)
    val viaScratch = Dedup.exactAgainst(scratch, batch2, "doc_id", "text")
      .select(col("doc_id"), col("status"))
    val fpOk = setHash(merged.select("fingerprint")) ==
      setHash(scratch.select("fingerprint"))
    val probeOk = probe2Hash == setHash(viaScratch)
    println(f"[dedupinc] from-scratch rebuild+probe ${secs(t4)}%.1fs; " +
      s"fingerprint-set ${if (fpOk) "MATCH" else "MISMATCH"}, " +
      s"batch2 decisions ${if (probeOk) "MATCH" else "MISMATCH"}")
    fpOk && probeOk
  }
}
