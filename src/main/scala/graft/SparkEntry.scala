package graft

import graft.functions.{Keys, Text, Vectors}
import graft.operators._
import graft.sources.{Sink, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory
  * each query demonstrates. Every query returns engine-portable types:
  * timestamps as epoch microseconds (bigint), integers as bigint, floats as
  * double, exact-decimal intermediate sums cast to double at the end — so
  * the DuckDB oracle can match bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_multi_join_agg")(spark, "/root/testdata/sf0.001")

  // ---- shared fragments -------------------------------------------------

  /** Fresh memory-sink table name for a streaming gate query, dropping the
    * retained complete-mode results of EARLIER invocations first (the
    * median-of-3 bench calls each gate query three times; by the next call
    * the previous DataFrame is consumed and only the catalog entry pins
    * the old sink's rows in driver memory).
    *
    * Two declared deviations from the queries-map contract, shared by every
    * q_stream_* gate: (1) the LAST invocation's sink rows stay pinned in
    * driver memory for the session lifetime — the returned DataFrame lazily
    * reads the memory-sink temp view, so it cannot be dropped until the
    * caller is done with it, and the caller has no hook to say so; the cost
    * is one sf-sized result set per stream gate, bounded and driver-local.
    * (2) the q_stream_* entries execute EAGERLY (start/awaitTermination
    * inside query construction) — a streaming query has no lazy batch plan
    * to hand back, so construction runs the bounded stream to completion
    * and returns a batch view of the final sink. */
  private def freshStreamTable(s: SparkSession, prefix: String): String = {
    s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith(prefix))
      .foreach(t => s.catalog.dropTempView(t.name))
    s"$prefix${System.nanoTime}"
  }

  /** Materialize a bounded frame as a `chunks`-file event-time-ordered
    * replay (see [[graft.streaming.FileReplay]]) under a fresh temp dir and
    * open a one-file-per-micro-batch stream over it — every q_stream_* gate
    * runs through REAL cross-batch state transitions, not one bulk batch.
    * Stale replay/delta dirs from EARLIER invocations of the same gate are
    * removed first (same contract as [[freshStreamTable]]). Callers delete
    * the returned dir once their query has stopped.
    */
  private def orderedReplay(
      s: SparkSession,
      df: DataFrame,
      orderCols: Seq[String],
      prefix: String,
      chunks: Int = 6): (String, DataFrame) = {
    cleanupTmp(s"graft-replay-$prefix-")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-replay-$prefix-${System.nanoTime()}").getAbsolutePath
    graft.streaming.FileReplay.writeOrdered(df, orderCols, chunks, dir)
    (dir, graft.streaming.FileReplay.stream(s, dir, s.read.parquet(dir).schema))
  }

  /** Delete temp-dir children left by a PREVIOUS invocation of a gate. */
  private def cleanupTmp(prefix: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
    if (tmp != null)
      tmp.filter(_.getName.startsWith(prefix))
        .foreach(graft.streaming.FileReplay.deleteRecursively)
  }

  /** Fresh temp dir for a batch write-path gate, deleting the dirs any
    * PREVIOUS invocation of the same gate left behind — the median-of-3
    * bench runs every gate three times, so an unmanaged
    * `createTempDirectory` would leak three table copies per round.
    * (Deleting after the read-back is not an option: the returned frame is
    * lazy and the driver executes it later.)
    */
  private def gateTmpDir(prefix: String): String = {
    cleanupTmp(prefix)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$prefix${System.nanoTime()}")
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** Run `body` with `spark.sql.shuffle.partitions=8`, restoring after.
    * Every stream gate runs inside it: a stateful operator commits one
    * state-store delta PER SHUFFLE PARTITION PER MICRO-BATCH, so at gate
    * scale (tiny batches × ≥5 batches × several gates) the session default
    * of 32 partitions is pure commit overhead — measured 2.3× slower than
    * 8 at sf0.1. Sizing state partitions to the stream's data volume is
    * the same discipline a production job applies; the partition count is
    * baked into the checkpoint at first start anyway, so it is a per-query
    * decision, not a session one. Batch queries keep the session's 32.
    */
  private def withGateShuffle[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  /** ≥5 micro-batches actually ran — the multi-batch replay did not
    * degenerate into one bulk batch (cross-batch state was exercised). */
  private def assertMultiBatch(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val bid = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    require(bid >= 4L,
      s"stream gate expected >=5 micro-batches, saw batchId=$bid — " +
        "the ordered file replay degenerated into too few batches")
  }

  /** 10-minute activity intervals derived from events (outage-model shape). */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("user_id"),
      col("ts").as("from_ts"),
      (col("ts") + expr("interval 10 minutes")).as("to_ts"))

  private def sessionized(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionize(Tables.events(spark, dir), Seq("user_id"), "ts", 1800L,
      tieBreakCols = Seq("event_id"))

  private def sessionRollup(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionMetrics(
      sessionized(spark, dir), Seq("user_id"), "ts",
      Seq(
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("_last")))

  /** The reference's visit semantic model (semantic_models.yml:97-145 +
    * metrics:310-375) declared once: measures over a fact_visits-shaped
    * frame (`is_successful`, `n_events` per visit), simple + ratio metrics
    * over them. Public so specs can re-instantiate the SAME declarations
    * over different dimension sets.
    */
  def visitSemanticModel: graft.metrics.SemanticModel = {
    import graft.metrics._
    SemanticModel(
      measures = Seq(
        Measure("visits_count", MeasureAgg.Count, col("session_seq")),
        Measure("charge_attempts_count", MeasureAgg.Sum, col("n_events")),
        Measure("first_attempt_success_count", MeasureAgg.SumBoolean,
          col("is_successful") && col("n_events") === 1L),
        Measure("troubled_success_count", MeasureAgg.SumBoolean,
          col("is_successful") && col("n_events") > 1L),
        // yml: agg count, expr "case when is_successful then null else visit_id"
        Measure("failed_visits_count", MeasureAgg.Count,
          when(!col("is_successful"), col("session_seq")))),
      metrics = Seq(
        SimpleMetric("total_visits", "visits_count"),
        SimpleMetric("total_charge_attempts", "charge_attempts_count"),
        RatioMetric("average_attempts_per_visit", "total_charge_attempts", "total_visits"),
        SimpleMetric("first_attempt_success", "first_attempt_success_count"),
        SimpleMetric("troubled_success", "troubled_success_count"),
        SimpleMetric("failed_visits", "failed_visits_count"),
        RatioMetric("first_attempt_success_rate", "first_attempt_success", "total_visits"),
        RatioMetric("troubled_success_rate", "troubled_success", "total_visits"),
        RatioMetric("failed_rate", "failed_visits", "total_visits")))
  }

  /** DuckDB fragment: whitespace tokens of `text`, lowercased, no empties. */
  private val TokSql = "list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)"

  // ---- FnvMix oracle fragments (replay graft.plans.FnvMix in DuckDB) ----

  /** `(a * b) mod 2^64` over UBIGINT `a` and constant `b`, via 32-bit limb
    * split — a direct HUGEINT product of two near-2^64 values would overflow
    * int128, so: a*b ≡ al*bl + ((al*bh + ah*bl) mod 2^32)·2^32 (mod 2^64),
    * every intermediate < 2^66.
    */
  private def mulModSql(a: String, b: BigInt): String = {
    val bh = b >> 32
    val bl = b & 0xFFFFFFFFL
    s"CAST(((CAST(($a) % 4294967296 AS HUGEINT) * $bl) + " +
      s"((CAST(($a) % 4294967296 AS HUGEINT) * $bh + " +
      s"CAST(($a) // 4294967296 AS HUGEINT) * $bl) % 4294967296) * 4294967296) " +
      "% 18446744073709551616 AS UBIGINT)"
  }

  /** Integer CASE ladder replaying `min(15, Similarity.bandBitsFor(n, 64))`
    * — smallest b with 64·2^b ≥ n, capped at 15. Exact integer thresholds
    * on both engines; a float ceil(log2(...)) could land one off at exact
    * power-of-two boundaries.
    */
  private val BandBitsLadderSql =
    (1 to 14).map(b => s"WHEN n <= ${64L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 15 END")

  /** DuckDB CTE chain replaying `KMeans.lloyd(embeddings, k=8, iters=2)` —
    * seeds = 8 smallest-id vectors, two (assign, quantized-mean-update)
    * rounds, ending in CTE `af(vec_id, cell, d2)` = the final assignment.
    * Shared by the q_kmeans gate and the q_semdedup composition.
    */
  private val KMeansCteSql = kMeansCtes("8")

  /** The [[KMeansCteSql]] trajectory with a parameterizable seed count —
    * `kSql` is a DuckDB integer expression (a literal for q_kmeans, the
    * corpus-scaled `max(8, ⌈n/1024⌉)` for q_semdedup, whose operator
    * contract is k ∝ corpus size).
    */
  private def kMeansCtes(kSql: String, srcWhere: String = "TRUE"): String =
    s"""emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings WHERE $srcWhere
      |), w0 AS (
      |  SELECT vec_id AS cell, v AS w FROM (
      |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM emb)
      |  WHERE rn <= ($kSql)
      |), d0 AS (
      |  SELECT e.vec_id, s.cell,
      |    list_reduce(list_prepend(cast(0.0 AS double),
      |      list_transform(range(1, len(e.v) + 1),
      |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
      |  FROM emb e, w0 s
      |), a0 AS (
      |  SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d0)
      |  WHERE rn = 1
      |), x1 AS (
      |  SELECT a0.cell, unnest(list_transform(range(1, len(e.v) + 1),
      |    i -> struct_pack(p := i - 1,
      |      q := floor(e.v[i] * 1099511627776) / 1099511627776))) AS u
      |  FROM a0 JOIN emb e USING (vec_id)
      |), c1 AS (
      |  SELECT cell, u.p AS pos, sum(u.q) / count(*) AS m FROM x1 GROUP BY 1, 2
      |), w1 AS (
      |  SELECT cell, list(m ORDER BY pos) AS w FROM c1 GROUP BY cell
      |), d1 AS (
      |  SELECT e.vec_id, s.cell,
      |    list_reduce(list_prepend(cast(0.0 AS double),
      |      list_transform(range(1, len(e.v) + 1),
      |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
      |  FROM emb e, w1 s
      |), a1 AS (
      |  SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d1)
      |  WHERE rn = 1
      |), x2 AS (
      |  SELECT a1.cell, unnest(list_transform(range(1, len(e.v) + 1),
      |    i -> struct_pack(p := i - 1,
      |      q := floor(e.v[i] * 1099511627776) / 1099511627776))) AS u
      |  FROM a1 JOIN emb e USING (vec_id)
      |), c2 AS (
      |  SELECT cell, u.p AS pos, sum(u.q) / count(*) AS m FROM x2 GROUP BY 1, 2
      |), w2 AS (
      |  SELECT cell, list(m ORDER BY pos) AS w FROM c2 GROUP BY cell
      |), dfin AS (
      |  SELECT e.vec_id, s.cell,
      |    list_reduce(list_prepend(cast(0.0 AS double),
      |      list_transform(range(1, len(e.v) + 1),
      |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
      |  FROM emb e, w2 s
      |), af AS (
      |  SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dfin)
      |  WHERE rn = 1
      |)""".stripMargin

  /** DuckDB CTE chain replaying the TWO-LEVEL quantizer trajectory of
    * `KMeans.twoLevelModel(k, iters=2)` + `assignTwoLevel` — digit-for-
    * digit the Spark plan: k1 = ⌈√k⌉ coarse cells via the [[kMeansCtes]]
    * trajectory (ends in `af` = the coarse assignment; `w2` = the coarse
    * model), then per-coarse-cell sub-Lloyd with k2 = ⌈k/k1⌉: seeds = each
    * cell's k2 smallest-id member vectors (sub-cell id = member vec_id),
    * two (grouped-assign, quantized-mean-update) rounds — every distance a
    * sequential double fold, every argmin tie to the smaller cell — ending
    * in `saf(vec_id, ccell, cell, d2)` (the fine assignment) and
    * `sw2(ccell, cell, w)` (the trained sub model, for incremental batch
    * assignment). The sub-level joins are `ccell` EQUI-joins, mirroring
    * the n·2√k scan-side cost shape (vs the flat n·k the r13 sf100 decade
    * measured at 41×/decade).
    */
  private def kMeans2Ctes(kSql: String, srcWhere: String = "TRUE"): String = {
    def fold(v: String, w: String): String =
      s"""list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len($v) + 1),
         |        i -> ($v[i] - $w[i]) * ($v[i] - $w[i]))), (acc, x) -> acc + x)""".stripMargin
    def subRound(prev: String, dName: String, aName: String, xName: String,
        cName: String, wName: String): String =
      s"""$dName AS (
         |  SELECT e.vec_id, e.ccell, s.cell, ${fold("e.v", "s.w")} AS d2
         |  FROM ce e JOIN $prev s ON e.ccell = s.ccell
         |), $aName AS (
         |  SELECT vec_id, cell FROM (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM $dName)
         |  WHERE rn = 1
         |), $xName AS (
         |  SELECT $aName.cell, unnest(list_transform(range(1, len(e.v) + 1),
         |    i -> struct_pack(p := i - 1,
         |      q := floor(e.v[i] * 1099511627776) / 1099511627776))) AS u
         |  FROM $aName JOIN emb e USING (vec_id)
         |), $cName AS (
         |  SELECT cell, u.p AS pos, sum(u.q) / count(*) AS m FROM $xName GROUP BY 1, 2
         |), $wName AS (
         |  SELECT smap.ccell, t.cell, t.w
         |  FROM (SELECT cell, list(m ORDER BY pos) AS w FROM $cName GROUP BY cell) t
         |  JOIN smap USING (cell)
         |)""".stripMargin
    s"""kk2 AS (SELECT ($kSql) AS k),
       |kp2 AS (SELECT k, CAST(ceil(sqrt(CAST(k AS double))) AS BIGINT) AS k1,
       |  (k + CAST(ceil(sqrt(CAST(k AS double))) AS BIGINT) - 1)
       |    // CAST(ceil(sqrt(CAST(k AS double))) AS BIGINT) AS k2 FROM kk2),
       |${kMeansCtes("SELECT k1 FROM kp2", srcWhere)},
       |ce AS (
       |  SELECT e.vec_id, e.v, af.cell AS ccell FROM emb e JOIN af USING (vec_id)
       |), sw0 AS (
       |  SELECT ccell, vec_id AS cell, v AS w FROM (
       |    SELECT ccell, vec_id, v,
       |      row_number() OVER (PARTITION BY ccell ORDER BY vec_id) AS rn FROM ce)
       |  WHERE rn <= (SELECT k2 FROM kp2)
       |), smap AS (
       |  SELECT ccell, cell FROM sw0
       |), ${subRound("sw0", "sd0", "sa0", "sx1", "sc1", "sw1")},
       |${subRound("sw1", "sd1", "sa1", "sx2", "sc2", "sw2")},
       |sdf AS (
       |  SELECT e.vec_id, e.ccell, s.cell, ${fold("e.v", "s.w")} AS d2
       |  FROM ce e JOIN sw2 s ON e.ccell = s.ccell
       |), saf AS (
       |  SELECT vec_id, ccell, cell, d2 FROM (SELECT vec_id, ccell, cell, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM sdf)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** Exact sequential (e.v − s.v)² fold — the KMeans distance discipline,
    * as one expression over correlated tables `e` and `s` (both with a
    * double-list column `v`).
    */
  private val D2FoldSql =
    "list_reduce(list_prepend(CAST(0.0 AS double), " +
      "list_transform(range(1, len(e.v) + 1), " +
      "i -> (e.v[i] - s.v[i]) * (e.v[i] - s.v[i]))), (acc, x) -> acc + x)"

  /** FnvMix-uniform draw replay over CTE `emb(vec_id, …)` with CTE-name
    * prefix `pfx`, ending in `${pfx}u(vec_id, u)` — one k-means|| round's
    * draws (the q_split_assign chain, parameterized so the q_kmeans_pp
    * oracle can instantiate it once per round with the round's seed).
    */
  private def kmppDrawCtes(pfx: String, seed: Long): String = {
    val seedGolden = (BigInt(seed) * GoldenB).mod(BigInt(2).pow(64))
    s"""${pfx}h0 AS (SELECT vec_id, CAST(vec_id AS VARCHAR) AS shingle FROM emb),
       |${pfx}f AS (SELECT vec_id, $FnvFoldSql AS h FROM ${pfx}h0),
       |${pfx}z0 AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) + $seedGolden)
       |    % 18446744073709551616 AS UBIGINT) AS z FROM ${pfx}f),
       |${pfx}z1 AS (SELECT vec_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM ${pfx}z0),
       |${pfx}z2 AS (SELECT vec_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM ${pfx}z1),
       |${pfx}hv AS (SELECT vec_id, xor(z, z >> 31) AS z FROM ${pfx}z2),
       |${pfx}u AS (SELECT vec_id,
       |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM ${pfx}hv)""".stripMargin
  }

  /** One PQ subspace's replay (q_pq_adc): subvector slice `[lo..hi]`,
    * k smallest-id seeds, ONE quantized-mean update, final assignment as
    * `code$sub(vec_id, cell)`, trained model as `w1$sub(cell, w)` — the
    * [[KMeansCteSql]] shape with one round and per-subspace CTE names.
    * Expects CTE `emb(vec_id, v)` in scope.
    */
  private def pqSubspaceCtes(sub: Int, lo: Int, hi: Int, k: Int,
      src: String = "emb"): String = {
    val fold =
      "list_reduce(list_prepend(cast(0.0 AS double), " +
        "list_transform(range(1, len(e.v) + 1), " +
        "i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x)"
    s"""sv$sub AS (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
       |w0$sub AS (SELECT vec_id AS cell, v AS w FROM (
       |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM sv$sub)
       |  WHERE rn <= $k),
       |d0$sub AS (SELECT e.vec_id, s.cell, $fold AS d2 FROM sv$sub e, w0$sub s),
       |a0$sub AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d0$sub)
       |  WHERE rn = 1),
       |x1$sub AS (SELECT a.cell, unnest(list_transform(range(1, len(e.v) + 1),
       |    i -> struct_pack(p := i - 1,
       |      q := floor(e.v[i] * 1099511627776) / 1099511627776))) AS u
       |  FROM a0$sub a JOIN sv$sub e USING (vec_id)),
       |c1$sub AS (SELECT cell, u.p AS pos, sum(u.q) / count(*) AS m
       |  FROM x1$sub GROUP BY 1, 2),
       |w1$sub AS (SELECT cell, list(m ORDER BY pos) AS w FROM c1$sub GROUP BY cell),
       |df$sub AS (SELECT e.vec_id, s.cell, $fold AS d2 FROM sv$sub e, w1$sub s),
       |code$sub AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM df$sub)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB CTE chain replaying `Bpe.train(documents, "text", m)`: v0 is
    * the sentinel-delimited character vocab; each round j emits pair counts
    * `pj`, the argmax merge `bj`, and the merged vocab `vj`.
    */
  private def bpeOracleCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |tw AS (SELECT unnest(tk) AS word FROM toks),
         |wv AS (SELECT word, count(*) AS cnt FROM tw
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |v0 AS (SELECT chr(1) || array_to_string(
         |    list_transform(range(1, length(word) + 1), i -> word[i]),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt FROM wv)""".stripMargin)
    for (j <- 1 to m) {
      sb.append(
        s""",
           |p$j AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
           |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
           |    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
           |      chr(1) || chr(1)) AS sy, cnt FROM v${j - 1})
           |  ) GROUP BY 1, 2),
           |b$j AS (SELECT a, b, pcnt FROM p$j ORDER BY pcnt DESC, a, b LIMIT 1),
           |v$j AS (SELECT replace(v${j - 1}.s,
           |    chr(1) || b$j.a || chr(1) || chr(1) || b$j.b || chr(1),
           |    chr(1) || b$j.a || b$j.b || chr(1)) AS s, v${j - 1}.cnt
           |  FROM v${j - 1}, b$j)""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB CTE chain replaying the EXACT GPT-2 pre-tokenizer
    * ([[graft.plans.Gpt2Pretokens]]) over `rel(doc_id, text)` — RE2 has
    * no lookahead, so the oracle replays the scanner's LOCAL rules per
    * character with window functions instead of a regex: classify every
    * code point (S = space, T = other White_Space, L = `\pL`, N = `\pN`,
    * P = rest), detect contraction starts (apostrophe at a scan
    * position — previous char L/N/T/BOS — with the lowercase pair
    * tables), then mark token starts: contraction interiors never start,
    * the char after a contraction always starts, a whitespace char
    * starts at its run start OR as the run's last char before a
    * non-space (the `\s+(?!\S)` split), and a letter/number/punct char
    * starts on class change except after an attaching space. Running-sum
    * the starts into token ids and reassemble. Pre-flighted against
    * `java.util.regex` (lookahead included) on 396 adversarial cases —
    * contraction quirks, the whitespace zoo, supplementary-plane
    * letters. Ends in `gtok(doc_id, wpos, word)`, 1-based wpos in token
    * order. */
  /** Adversarial text appended to every q_gpt2_pretok doc — one instance
    * of every scanner rule: real/fake/uppercase contractions, a tab and
    * an NBSP adjacent to words, double spaces before a word (the
    * `\s+(?!\S)` split), ideographic space, Nd/Nl/No numerics, a
    * supplementary-plane letter, contraction-with-no-boundary, and
    * trailing whitespace. Shared verbatim by the gate and its oracle. */
  private val Gpt2AdversarialSuffix =
    " don't CAN'T  x\ty z ٣Ⅻ² 𐐷 !!!'s" +
      " don'thing 'll''d e.g　+7  "

  /** Decomposed suffix appended to every third q_text_normalize doc — one
    * instance of each NFC case class: combining acute (e+U+0301 -> e-acute),
    * combining ring (A+U+030A -> A-ring), the U+212B ANGSTROM SIGN singleton
    * (-> U+00C5), a combining-class reorder (d + dot-below + dot-above),
    * plus a tab, a double space and trailing spaces for the whitespace
    * collapse/trim leg. Shared verbatim by the gate and its oracle. */
  private val TextNormSuffix =
    " Cafe\u0301 A\u030Angstrom x\u212B d\u0323\u0307\tmid  end  "

  private def gpt2PretokCtes(rel: String): String =
    s"""gchars AS (SELECT doc_id, u.i AS i, u.ch FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
       |      i -> struct_pack(i := i, ch := text[i]))) AS u
       |    FROM $rel)),
       |gcls AS (SELECT doc_id, i, ch,
       |    CASE WHEN ch = ' ' THEN 'S'
       |         WHEN regexp_matches(ch, '^[\\x{09}-\\x{0D}\\x{85}\\p{Z}]$$') THEN 'T'
       |         WHEN regexp_matches(ch, '^\\pL$$') THEN 'L'
       |         WHEN regexp_matches(ch, '^\\pN$$') THEN 'N'
       |         ELSE 'P' END AS cls
       |  FROM gchars),
       |gctx AS (SELECT doc_id, i, ch, cls,
       |    lag(cls) OVER gw1 AS pc,
       |    lead(cls) OVER gw1 AS nc,
       |    lead(ch, 1) OVER gw1 AS n1,
       |    lead(ch, 2) OVER gw1 AS n2
       |  FROM gcls WINDOW gw1 AS (PARTITION BY doc_id ORDER BY i)),
       |gact AS (SELECT doc_id, i, ch, cls, pc, nc,
       |    CASE WHEN ch = chr(39) AND (pc IS NULL OR pc IN ('L','N','T'))
       |         THEN CASE WHEN n1 IN ('s','t','m','d') THEN 2
       |                   WHEN (n1='r' AND n2='e') OR (n1='v' AND n2='e')
       |                     OR (n1='l' AND n2='l') THEN 3
       |                   ELSE 0 END
       |         ELSE 0 END AS clen
       |  FROM gctx),
       |gb AS (SELECT doc_id, i, ch, cls, pc, nc, clen,
       |    lag(clen, 1) OVER gw2 AS c1,
       |    lag(clen, 2) OVER gw2 AS c2,
       |    lag(clen, 3) OVER gw2 AS c3
       |  FROM gact WINDOW gw2 AS (PARTITION BY doc_id ORDER BY i)),
       |gstart AS (SELECT doc_id, i, ch,
       |    CASE
       |      WHEN coalesce(c1, 0) >= 2 OR coalesce(c2, 0) = 3 THEN 0
       |      WHEN coalesce(c2, 0) = 2 OR coalesce(c3, 0) = 3 THEN 1
       |      WHEN clen > 0 THEN 1
       |      WHEN cls IN ('S','T') THEN
       |        CASE WHEN pc IS NULL OR pc NOT IN ('S','T') THEN 1
       |             WHEN nc IS NOT NULL AND nc NOT IN ('S','T') THEN 1
       |             ELSE 0 END
       |      ELSE CASE WHEN pc IS NULL OR pc = 'T' THEN 1
       |                WHEN pc = 'S' THEN 0
       |                WHEN pc <> cls THEN 1 ELSE 0 END
       |    END AS b
       |  FROM gb),
       |gtid AS (SELECT doc_id, i, ch, sum(b) OVER (
       |    PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS tid
       |  FROM gstart),
       |gtok AS (SELECT doc_id, cast(tid AS bigint) AS wpos,
       |    string_agg(ch, '' ORDER BY i) AS word
       |  FROM gtid GROUP BY doc_id, tid)""".stripMargin

  /** DuckDB CTE chain replaying `Bpe.trainBytes(documents, "text", m)`:
    * the byte-level (GPT-2) variant of [[bpeOracleCtes]] — the EXACT
    * GPT-2 pre-tokenizer ([[gpt2PretokCtes]]) chunks raw text (no
    * lowercase, no filter), each pre-token encodes to
    * sentinel-delimited 2-digit-hex BYTE symbols (`hex(encode(word))`),
    * then the identical merge-round replay.
    */
  private def bpeBytesOracleCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${gpt2PretokCtes("documents")},
         |bbwv AS (SELECT word, count(*) AS cnt FROM gtok GROUP BY 1),
         |bbv0 AS (SELECT word, chr(1) || array_to_string(
         |    list_transform(range(1, length(hx) // 2 + 1),
         |      i -> substring(hx, i * 2 - 1, 2)),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt
         |  FROM (SELECT word, hex(encode(word)) AS hx, cnt FROM bbwv))""".stripMargin)
    for (j <- 1 to m) {
      sb.append(
        s""",
           |bbp$j AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
           |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
           |    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
           |      chr(1) || chr(1)) AS sy, cnt FROM bbv${j - 1})
           |  ) GROUP BY 1, 2),
           |bbb$j AS (SELECT a, b, pcnt FROM bbp$j ORDER BY pcnt DESC, a, b LIMIT 1),
           |bbv$j AS (SELECT bbv${j - 1}.word, replace(bbv${j - 1}.s,
           |    chr(1) || bbb$j.a || chr(1) || chr(1) || bbb$j.b || chr(1),
           |    chr(1) || bbb$j.a || bbb$j.b || chr(1)) AS s, bbv${j - 1}.cnt
           |  FROM bbv${j - 1}, bbb$j)""".stripMargin)
    }
    sb.toString
  }

  /** Full graph-ANN replay (q_knn_graph): corpus-derived fine bits (the
    * integer bandBitsFor ladder — no float log2), BOTH portable plane
    * families (seeds 42/43), fine-bucket pair edges + coarse-bucket hub
    * edges, per-src top-degree adjacency, then the beam hops UNROLLED as
    * CTE rounds (top-beam frontier → expand via adjacency → anti-join
    * already-scored → exact-cosine score → union). Round CTEs are
    * MATERIALIZED: best_h is referenced three times per hop and DuckDB
    * inlines CTEs exponentially otherwise (the r11 tokenizer-chain
    * lesson). */
  private lazy val knnGraphOracleSql: String =
    knnGraphOracleSqlFor("TRUE", "vec_id < 8")

  /** The same replay with the INDEX side and the PROBE side as separate
    * predicates over `embeddings` — q_knn_graph passes (TRUE, vec_id < 8)
    * (probes ⊂ corpus), q_knn_graph_inc (vec_id >= 8, vec_id < 8) (the
    * incremental twin: batch probes a corpus-only index). Probe coarse
    * buckets are computed by their own plane chain, which for probes ⊂
    * corpus is identical to reading them off `base`. Degree/fineBits
    * derive from the CORPUS count, matching Similarity.knnGraph. */
  private def knnGraphOracleSqlFor(corpusWhere: String, probeWhere: String): String = {
    val (hops, entries, k, rounds) = (4, 4, 5, 2)
    // Similarity.degreeFor/beamFor replayed in integer SQL: growth =
    // 16·2^(decades ≥ 1e5, capped at 4 doublings), then the largest
    // halving 16·2^j ≤ growth that fits the n·d² ≤ 2³¹ build budget
    // (halving satisfaction is monotone in d, so max == the Scala loop's
    // first-fit); beam follows the degree above the base (beamFor),
    // clamped to ≥ k exactly as knnGraph's math.max(k, beamFor(deg))
    val degree = "(SELECT d FROM degs)"
    val beam = "(SELECT bm FROM degs)"
    def cos(va: String, na: String, vb: String, nb: String) =
      s"""CASE WHEN $na * $nb > 0 THEN
         |      list_reduce(list_prepend(cast(0.0 AS double),
         |        list_transform(range(1, len($va) + 1),
         |          i -> cast($va[i] AS double) * cast($vb[i] AS double))),
         |        (acc, x) -> acc + x) / ($na * $nb)
         |    ELSE 0.0 END""".stripMargin
    def planes(name: String, seedTimes: Long, bitsExpr: String) =
      s"""$name AS (SELECT p, list_transform(
         |    list_transform(range(0, 64), d -> (p * 64 + d + $seedTimes) % 1000003),
         |    k -> cast((k * k % 1000003 * 73856093 + k * 19349663) % 1000003 AS double)
         |      / 1000003.0 - 0.5) AS w
         |  FROM (SELECT unnest(range(0, $bitsExpr)) AS p))""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings WHERE $corpusWhere),
         |fbits AS (SELECT coalesce((SELECT min(b)
         |    FROM (SELECT unnest(range(1, 20)) AS b) t, nn
         |    WHERE 96 * (1 << b) >= nn.n), 20) AS fb),
         |degs AS (SELECT d, greatest($k, CASE WHEN d > 16 THEN d ELSE 8 END) AS bm FROM (
         |  SELECT coalesce((SELECT max(dg // (1 << j))
         |      FROM (SELECT 16 * (1 << (CASE WHEN n >= 100000 THEN 1 ELSE 0 END
         |          + CASE WHEN n >= 1000000 THEN 1 ELSE 0 END
         |          + CASE WHEN n >= 10000000 THEN 1 ELSE 0 END
         |          + CASE WHEN n >= 100000000 THEN 1 ELSE 0 END)) AS dg, n
         |        FROM nn) g, (SELECT unnest(range(0, 5)) AS j) js
         |      WHERE dg // (1 << j) >= 16
         |        AND n * (dg // (1 << j)) * (dg // (1 << j)) <= 2147483648),
         |    16) AS d)),
         |${planes("pl", 42L * 83492791L, "(SELECT fb FROM fbits)")},
         |${planes("cpl", 43L * 83492791L, "(SELECT greatest(1, fb // 2) FROM fbits)")},
         |emb AS MATERIALIZED (SELECT vec_id, embedding,
         |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(embedding) + 1),
         |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
         |      (acc, x) -> acc + x)) AS nv
         |  FROM embeddings WHERE $corpusWhere),
         |fd AS (SELECT e.vec_id, pl.p,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.embedding) + 1),
         |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
         |  FROM emb e, pl),
         |fc AS (SELECT vec_id, cast(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END)
         |    AS bigint) AS fbk FROM fd GROUP BY 1),
         |cd AS (SELECT e.vec_id, cpl.p,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.embedding) + 1),
         |        i -> cast(e.embedding[i] AS double) * cpl.w[i])), (acc, x) -> acc + x) AS dp
         |  FROM emb e, cpl),
         |cc AS (SELECT vec_id, cast(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END)
         |    AS bigint) AS cbk FROM cd GROUP BY 1),
         |base AS MATERIALIZED (SELECT e.vec_id, e.embedding, e.nv, fc.fbk, cc.cbk
         |  FROM emb e JOIN fc USING (vec_id) JOIN cc USING (vec_id)),
         |hub AS MATERIALIZED (SELECT cbk, hub FROM (
         |    SELECT cbk, vec_id AS hub,
         |      row_number() OVER (PARTITION BY cbk ORDER BY vec_id) AS hr FROM base)
         |  WHERE hr <= $degree),
         |hp AS MATERIALIZED (SELECT b.vec_id AS id, h.hub
         |  FROM base b JOIN hub h USING (cbk) WHERE b.vec_id <> h.hub),
         |seedp AS (SELECT a.vec_id AS src, b.vec_id AS dst
         |    FROM base a JOIN base b ON a.fbk = b.fbk AND a.vec_id <> b.vec_id
         |  UNION ALL SELECT id, hub FROM hp
         |  UNION ALL SELECT hub, id FROM hp),
         |sc0 AS (SELECT p.src, p.dst,
         |    ${cos("a.embedding", "a.nv", "b.embedding", "b.nv")} AS cosine
         |  FROM seedp p JOIN base a ON a.vec_id = p.src JOIN base b ON b.vec_id = p.dst),
         |near0 AS MATERIALIZED (SELECT src, dst, cosine FROM (SELECT src, dst, cosine,
         |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS nr
         |  FROM (SELECT src, dst, max(cosine) AS cosine FROM sc0 GROUP BY 1, 2))
         |  WHERE nr <= $degree)""".stripMargin)
    for (r <- 1 to rounds) {
      val prev = s"near${r - 1}"
      sb.append(
        s""",
           |cnd$r AS (SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM $prev
           |  UNION ALL SELECT dst AS src, src AS dst FROM $prev
           |  UNION ALL SELECT a.src, b.dst
           |    FROM $prev a JOIN $prev b ON a.dst = b.src WHERE a.src <> b.dst)),
           |sc$r AS (SELECT p.src, p.dst,
           |    ${cos("a.embedding", "a.nv", "b.embedding", "b.nv")} AS cosine
           |  FROM cnd$r p JOIN base a ON a.vec_id = p.src JOIN base b ON b.vec_id = p.dst),
           |near$r AS MATERIALIZED (SELECT src, dst, cosine FROM (SELECT src, dst, cosine,
           |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS nr
           |  FROM sc$r) WHERE nr <= $degree)""".stripMargin)
    }
    sb.append(
      s""",
         |adjs AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM near$rounds
         |  UNION ALL SELECT id AS src, hub AS dst FROM hp)),
         |pemb AS (SELECT vec_id, embedding,
         |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(embedding) + 1),
         |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
         |      (acc, x) -> acc + x)) AS nv
         |  FROM embeddings WHERE $probeWhere),
         |pcd AS (SELECT e.vec_id, cpl.p,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.embedding) + 1),
         |        i -> cast(e.embedding[i] AS double) * cpl.w[i])), (acc, x) -> acc + x) AS dp
         |  FROM pemb e, cpl),
         |pcc AS (SELECT vec_id, cast(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END)
         |    AS bigint) AS cbk FROM pcd GROUP BY 1),
         |pr AS MATERIALIZED (SELECT e.vec_id AS probe_id, e.embedding AS pv,
         |    e.nv AS pn, c.cbk
         |  FROM pemb e JOIN pcc c USING (vec_id)),
         |ent AS (SELECT DISTINCT probe_id, nid FROM (
         |    SELECT p.probe_id, g.nid FROM pr p CROSS JOIN
         |      (SELECT vec_id AS nid FROM emb ORDER BY vec_id LIMIT $entries) g
         |  UNION ALL SELECT p.probe_id, h.hub AS nid FROM pr p JOIN hub h USING (cbk))),
         |best0 AS MATERIALIZED (SELECT e.probe_id, e.nid,
         |    ${cos("c.embedding", "c.nv", "p.pv", "p.pn")} AS cosine
         |  FROM ent e JOIN emb c ON c.vec_id = e.nid JOIN pr p USING (probe_id))""".stripMargin)
    for (h <- 1 to hops) {
      val prev = s"best${h - 1}"
      sb.append(
        s""",
           |f$h AS (SELECT probe_id, nid FROM (SELECT probe_id, nid,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, nid) AS r
           |  FROM $prev) WHERE r <= $beam),
           |e$h AS (SELECT DISTINCT f.probe_id, a.dst AS nid
           |  FROM f$h f JOIN adjs a ON a.src = f.nid
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev b
           |    WHERE b.probe_id = f.probe_id AND b.nid = a.dst)),
           |s$h AS (SELECT x.probe_id, x.nid,
           |    ${cos("c.embedding", "c.nv", "p.pv", "p.pn")} AS cosine
           |  FROM e$h x JOIN emb c ON c.vec_id = x.nid
           |  JOIN pr p ON p.probe_id = x.probe_id),
           |best$h AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM s$h)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT probe_id, nid AS neighbor_id, cosine, cast(r AS bigint) AS rank
         |FROM (SELECT probe_id, nid, cosine,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, nid) AS r
         |  FROM best$hops WHERE probe_id <> nid)
         |WHERE r <= $k""".stripMargin)
    sb.toString
  }

  /** Recursive-CTE replay of [[graft.operators.Unigram]]'s hard-EM
    * trajectory (requires `WITH RECURSIVE`): seed substring counts,
    * integer ilog2q scores (exponent CASE chain + shifted mantissa
    * fraction — exact integer ops only), per-word piece-score MAPs, the
    * Viterbi DP as a recursive position walk carrying the (score,
    * backpointer) list, backtrace as a second recursive walk, usage
    * counts, top-K + single-char pruning. Rounds 1..2 prune; round 3
    * applies the final artifact. Ends in `u3scr(piece, used, score)`
    * (the artifact, q_unigram_train) and `u3cnt(piece, used)` (the
    * application counts, q_unigram_tokenize).
    */
  /** The A-ES draw replay — shared by q_weighted_sample (batch) and
    * q_stream_weighted_sample (the streamed fold must land on the
    * identical k rows). */
  private lazy val WeightedSampleSql: String = {

      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      val eCase = (62 to 1 by -1)
        .map(k => s"WHEN v >= ${1L << k} THEN $k").mkString(" ")
      s"""WITH w0 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
         |    CAST(doc_id AS VARCHAR) AS shingle
         |  FROM documents WHERE length(text) >= 1),
         |f AS (SELECT doc_id, weight, $FnvFoldSql AS h FROM w0),
         |z0 AS (SELECT doc_id, weight,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden)
         |      % 18446744073709551616 AS UBIGINT) AS z FROM f),
         |z1 AS (SELECT doc_id, weight, ${mulModSql("xor(z, z >> 30)", Mix1B)}
         |    AS z FROM z0),
         |z2 AS (SELECT doc_id, weight, ${mulModSql("xor(z, z >> 27)", Mix2B)}
         |    AS z FROM z1),
         |hv AS (SELECT doc_id, weight,
         |    CAST(xor(z, z >> 31) >> 24 AS BIGINT) + 1 AS v FROM z2),
         |e AS (SELECT doc_id, weight, v, CASE $eCase ELSE 0 END AS e FROM hv),
         |kq AS (SELECT doc_id, weight,
         |    -(((2621440 - (e * 65536 +
         |        (((v - (CAST(1 AS BIGINT) << e)) << 16) >> e))) << 20)
         |      // weight) AS kq
         |  FROM e)
         |SELECT doc_id, weight FROM kq
         |ORDER BY kq DESC, doc_id LIMIT 100""".stripMargin
  }

  /** The CDC fold replay — shared by q_cdc_apply (batch) and
    * q_stream_cdc (the streamed materialization must land on the
    * identical state): latest-seq winner per key (o_orderkey unique =>
    * the row_number replay equals the operator's max_by), full-outer
    * fold with D dropping the key and I/U taking the logged payload. */
  private lazy val CdcApplySql: String =
    """WITH cdclog AS (SELECT
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
        |      ELSE o_custkey END AS c_custkey,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D'
        |      WHEN o_orderstatus = 'O' THEN 'U' ELSE 'I' END AS op,
        |    'upd_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_orderkey % 25 AS c_nationkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment
        |  FROM orders),
        |w AS (SELECT * FROM cdclog QUALIFY
        |  row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) = 1),
        |snap AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |    CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal,
        |    c_mktsegment FROM customer)
        |SELECT coalesce(s.c_custkey, w.c_custkey) AS c_custkey,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_name ELSE s.c_name END AS c_name,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_nationkey ELSE s.c_nationkey END
        |    AS c_nationkey,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_acctbal ELSE s.c_acctbal END
        |    AS c_acctbal,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_mktsegment ELSE s.c_mktsegment END
        |    AS c_mktsegment
        |FROM snap s FULL JOIN w ON s.c_custkey = w.c_custkey
        |WHERE w.op IS NULL OR w.op <> 'D'""".stripMargin

  /** WordPiece trajectory replay (operators/WordPiece.scala): sentinel
    * `##`-prefixed symbol encoding, per-round pair + symbol counts, the
    * quantized-likelihood argmax `ilog2q(pcnt) − ilog2q(ca) − ilog2q(cb)`
    * (exact integer ops, ties (score desc, a, b)), literal-replace
    * merges, then GREEDY longest-match-first segmentation of the word
    * vocab against the final vocabulary as a recursive position walk
    * (list_max over the per-position match lengths; an unmatchable
    * position collapses the word to one '[UNK]'). Ends in
    * `wpm1..wpmM` (the merges), `wpseg(word, cnt, ps)` (greedy
    * segmentations) and `wpid(sym, tid)` (dense ids). A round whose
    * corpus has NO mergeable pair left (every word already one symbol)
    * produces an empty `wpm$$r`; the vocab CTE LEFT-JOINs the merge row
    * and falls back to the previous round's strings, matching
    * `WordPiece.train`'s early stop — so the replay is total, not just
    * valid on corpora with ≥ m merges.
    */
  private def wordPieceOracleCtes(m: Int): String = {
    def eCase(v: String) = (62 to 1 by -1)
      .map(k => s"WHEN $v >= ${1L << k} THEN $k").mkString(" ")
    def lg(v: String, e: String) =
      s"($e * 65536 + ((($v - (CAST(1 AS BIGINT) << $e)) << 16) >> $e))"
    val strip = "CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END"
    def roundCtes(r: Int) =
      s"""wp${r}sy AS MATERIALIZED (SELECT cnt, string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1)) AS sy FROM wpv${r - 1}),
         |wp${r}pr AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(cnt) AS pcnt
         |  FROM wp${r}sy CROSS JOIN unnest(range(1, len(sy))) AS g(i)
         |  GROUP BY 1, 2),
         |wp${r}s AS MATERIALIZED (SELECT sym, sum(cnt) AS scnt
         |  FROM (SELECT unnest(sy) AS sym, cnt FROM wp${r}sy) GROUP BY 1),
         |wp${r}e AS (SELECT a, b, pcnt, sa.scnt AS ca, sb.scnt AS cb,
         |    CASE ${eCase("pcnt")} ELSE 0 END AS ep,
         |    CASE ${eCase("sa.scnt")} ELSE 0 END AS ea,
         |    CASE ${eCase("sb.scnt")} ELSE 0 END AS eb
         |  FROM wp${r}pr JOIN wp${r}s sa ON sa.sym = a
         |  JOIN wp${r}s sb ON sb.sym = b),
         |wpm$r AS MATERIALIZED (SELECT a, b, pcnt,
         |    ${lg("pcnt", "ep")} - ${lg("ca", "ea")} - ${lg("cb", "eb")}
         |      AS score
         |  FROM wp${r}e ORDER BY score DESC, a, b LIMIT 1),
         |wpv$r AS MATERIALIZED (SELECT CASE WHEN a IS NULL THEN s
         |    ELSE replace(s, chr(1) || a || chr(1) || chr(1) || b || chr(1),
         |      chr(1) || a || ($strip) || chr(1)) END AS s, cnt
         |  FROM wpv${r - 1} LEFT JOIN wpm$r ON TRUE)""".stripMargin
    val base =
      s"""wptoks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wpwv AS MATERIALIZED (SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(tk) AS word FROM wptoks)
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |wpv0 AS MATERIALIZED (SELECT chr(1) || array_to_string(
         |    list_transform(range(1, length(word) + 1),
         |      i -> CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1)
         |        ELSE '##' || substring(word, CAST(i AS INT), 1) END),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt, word
         |  FROM wpwv)""".stripMargin
    val fv =
      s"""wpfv AS MATERIALIZED (SELECT DISTINCT sym FROM (
         |  SELECT unnest(sy) AS sym FROM wp1sy
         |  ${(1 to m).map(r =>
              s"UNION ALL SELECT a || ($strip) AS sym FROM wpm$r")
              .mkString("\n  ")})),
         |wpfl AS MATERIALIZED (SELECT list(sym) AS vl FROM wpfv),
         |wpg AS (
         |  SELECT word, cnt, vl, 1 AS pos, CAST([] AS VARCHAR[]) AS ps
         |  FROM wpwv CROSS JOIN wpfl
         |  UNION ALL
         |  SELECT word, cnt, vl,
         |    CASE WHEN L = 0 THEN length(word) + 1 ELSE pos + L END AS pos,
         |    CASE WHEN L = 0 THEN ['[UNK]']
         |      WHEN pos = 1 THEN list_append(ps, substring(word, CAST(pos AS INT), CAST(L AS INT)))
         |      ELSE list_append(ps, '##' || substring(word, CAST(pos AS INT), CAST(L AS INT)))
         |      END AS ps
         |  FROM (
         |    SELECT word, cnt, vl, pos, ps,
         |      CAST(coalesce(list_max(list_filter(range(1, length(word) - pos + 2),
         |        l -> list_contains(vl, CASE WHEN pos = 1
         |          THEN substring(word, CAST(pos AS INT), CAST(l AS INT))
         |          ELSE '##' || substring(word, CAST(pos AS INT), CAST(l AS INT)) END))),
         |        0) AS BIGINT) AS L
         |    FROM wpg WHERE pos <= length(word))),
         |wpseg AS MATERIALIZED (SELECT word, cnt, ps FROM wpg WHERE pos = length(word) + 1),
         |wpid AS (SELECT sym, row_number() OVER (ORDER BY sym) AS tid
         |  FROM (SELECT DISTINCT sym FROM
         |    (SELECT sym FROM wpfv UNION ALL SELECT '[UNK]')))""".stripMargin
    (Seq(base) ++ (1 to m).map(roundCtes) :+ fv).mkString(",\n")
  }

  private lazy val unigramOracleCtes: String = {
    val neg = -(1L << 40)
    val neg2 = 2L * neg
    def eCase(v: String) = (62 to 1 by -1)
      .map(k => s"WHEN $v >= ${1L << k} THEN $k").mkString(" ")
    def ilogCtes(src: String, p: String) =
      s"""${p}e AS (SELECT piece, used, CASE ${eCase("used")} ELSE 0 END AS e
         |  FROM $src),
         |${p}lg AS (SELECT piece, used,
         |    (e * 65536 + (((used - (CAST(1 AS BIGINT) << e)) << 16) >> e)) AS lg
         |  FROM ${p}e),
         |${p}t AS (SELECT sum(used) AS t FROM $src),
         |${p}te AS (SELECT t, CASE ${eCase("t")} ELSE 0 END AS e FROM ${p}t),
         |${p}tl AS (SELECT
         |    (e * 65536 + (((t - (CAST(1 AS BIGINT) << e)) << 16) >> e)) AS lgt
         |  FROM ${p}te),
         |${p}scr AS (SELECT piece, used, lg - lgt AS score
         |  FROM ${p}lg CROSS JOIN ${p}tl)""".stripMargin
    def roundCtes(r: Int) = {
      def cand(k: Int) =
        s"""CASE WHEN j + 1 - $k >= 0 THEN {'s': acc[j + 2 - $k].s +
           |      coalesce(map_extract(m, substring(word, CAST(j + 2 - $k AS INT), $k))[1],
           |        CAST($neg AS BIGINT)), 'bp': j + 1 - $k}
           |      ELSE {'s': CAST($neg2 AS BIGINT), 'bp': -1} END""".stripMargin
      val best =
        s"""list_reduce(list_prepend(
           |      ${cand(4)},
           |      [${Seq(3, 2, 1).map(cand).mkString(",\n      ")}]),
           |      (b, c) -> CASE WHEN c.s > b.s THEN c ELSE b END)""".stripMargin
      s"""u${r}wm AS (SELECT w.word, MAP(list(w.piece), list(s.score)) AS m
         |  FROM uwp w JOIN u${r}scr s USING (piece) GROUP BY w.word),
         |u${r}dp AS (
         |  SELECT v.word, v.cnt, m.m, 0 AS j,
         |    [{'s': CAST(0 AS BIGINT), 'bp': 0}] AS acc
         |  FROM uwv v JOIN u${r}wm m USING (word)
         |  UNION ALL
         |  SELECT word, cnt, m, j + 1, list_append(acc, $best)
         |  FROM u${r}dp WHERE j < length(word)),
         |u${r}acc AS (SELECT word, cnt, acc FROM u${r}dp WHERE j = length(word)),
         |u${r}bt AS (
         |  SELECT word, cnt, acc, length(word) AS j, CAST([] AS VARCHAR[]) AS ps
         |  FROM u${r}acc
         |  UNION ALL
         |  SELECT word, cnt, acc, acc[j + 1].bp,
         |    list_prepend(substring(word, CAST(acc[j + 1].bp + 1 AS INT),
         |      j - acc[j + 1].bp), ps)
         |  FROM u${r}bt WHERE j > 0),
         |u${r}cnt AS (SELECT piece, sum(cnt) AS used
         |  FROM (SELECT cnt, unnest(ps) AS piece FROM u${r}bt WHERE j = 0)
         |  GROUP BY 1)""".stripMargin
    }
    def keepCtes(r: Int) =
      s"""u${r}top AS (SELECT piece, used FROM u${r}cnt
         |  ORDER BY used DESC, piece LIMIT 48),
         |u${r}sng AS (SELECT s.piece, coalesce(c.used, 1) AS used
         |  FROM usingles s LEFT JOIN u${r}cnt c USING (piece)),
         |u${r}kept AS (SELECT piece, max(used) AS used
         |  FROM (SELECT * FROM u${r}top UNION ALL SELECT * FROM u${r}sng)
         |  GROUP BY 1)""".stripMargin
    val base =
      s"""utoks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |utw AS (SELECT unnest(tk) AS word FROM utoks),
         |uwv AS (SELECT word, count(*) AS cnt FROM utw
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |usub AS (SELECT word, cnt,
         |    substring(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |  FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i
         |    FROM uwv) t,
         |  range(1, 5) q(l)
         |  WHERE i + l - 1 <= length(word)),
         |useed AS (SELECT piece, sum(cnt) AS used FROM usub GROUP BY 1),
         |usingles AS (SELECT DISTINCT piece FROM useed WHERE length(piece) = 1),
         |uwp AS (SELECT DISTINCT word, piece FROM usub)""".stripMargin
    Seq(base,
      ilogCtes("useed", "u1"), roundCtes(1), keepCtes(1),
      ilogCtes("u1kept", "u2"), roundCtes(2), keepCtes(2),
      ilogCtes("u2kept", "u3"), roundCtes(3)).mkString(",\n")
  }

  private val FnvPrimeB = BigInt("1099511628211")          // 0x100000001b3
  private val GoldenB = BigInt("11400714819323198485")     // 0x9E3779B97F4A7C15
  private val Mix1B = BigInt("13787848793156543929")       // 0xBF58476D1CE4E5B9
  private val Mix2B = BigInt("10723151780598845931")       // 0x94D049BB133111EB

  /** FNV-1a fold of column `shingle` (ASCII text: codepoint == UTF-8 byte,
    * which holds for the generated documents) → UBIGINT.
    */
  private val FnvFoldSql =
    "list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), " +
      "list_transform(range(1, length(shingle) + 1), " +
      "i -> CAST(unicode(shingle[i]) AS UBIGINT))), " +
      s"(acc, b) -> ${mulModSql("xor(acc, b)", FnvPrimeB)})"

  /** DuckDB fragment: distinct 3-word shingles per document of table/CTE
    * `from` → CTE `posting(id, shingle)` (shared by the minhash/simhash
    * oracles, on both the driver corpus and the Zipf corpus).
    */
  private def shinglePostingSql(from: String): String =
    s"""toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
       |  FROM toks WHERE len(tk) >= 3),
       |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh)""".stripMargin

  private val ShinglePostingSql = shinglePostingSql("documents")

  /** DuckDB fragment: the exact-pair core shared by the jaccard/containment
    * oracles — distinct shingles, hot-shingle suppression under the
    * CORPUS-DERIVED cap (max(128, 16384·n_docs ÷ postings), integer
    * division — replaying Dedup.derivedDocFreqCap exactly), per-doc sizes
    * over the FILTERED space, pair intersection counts. Ends in CTE
    * `pairs(id_a, id_b, sa, sb, inter)`; scorers select from it.
    */
  private def ngramPairCoreSql(from: String): String =
    s"""toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
       |  FROM toks WHERE len(tk) >= 3),
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |capn AS (SELECT greatest(128, (16384 * count(DISTINCT doc_id)) // count(*)) AS cap
       |  FROM posting),
       |rare AS (SELECT shingle FROM posting GROUP BY 1
       |  HAVING count(*) <= (SELECT cap FROM capn)),
       |f0 AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM f0 GROUP BY 1),
       |f AS (SELECT f0.doc_id, f0.shingle, sizes.set_size FROM f0 JOIN sizes USING (doc_id)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.set_size AS sa, b.set_size AS sb,
       |    count(*) AS inter
       |  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val JaccardSelectSql =
    """SELECT id_a, id_b, cast(inter AS double) / (sa + sb - inter) AS jaccard
      |FROM pairs WHERE cast(inter AS double) / (sa + sb - inter) >= 0.8""".stripMargin

  private val ContainmentSelectSql =
    """SELECT id_a, id_b, cast(sa AS bigint) AS size_a, cast(sb AS bigint) AS size_b,
      |  cast(inter AS double) / cast(least(sa, sb) AS double) AS overlap
      |FROM pairs
      |WHERE cast(inter AS double) / cast(least(sa, sb) AS double) >= 0.8""".stripMargin

  /** FnvMix HLL register replay (seed 11) over `events(event_type,
    * user_id)` → CTE chain ending in `regs(event_type, bucket, reg)` —
    * shared by the q_card_sketch and q_stream_sketch oracles.
    */
  private lazy val CardRegsCtes: String = {
    val seedGolden = (BigInt(11) * GoldenB).mod(BigInt(2).pow(64))
    val rhoCase = (1 to 56)
      .map(r => s"WHEN rem >= ${BigInt(2).pow(64 - r)} THEN $r")
      .mkString(" ")
    s"""h0 AS (SELECT event_type, CAST(user_id AS VARCHAR) AS shingle
       |  FROM (SELECT DISTINCT event_type, user_id FROM events
       |        WHERE user_id IS NOT NULL)),
       |folded AS (SELECT event_type, $FnvFoldSql AS h FROM h0),
       |z0 AS (SELECT event_type,
       |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
       |      AS UBIGINT) AS z FROM folded),
       |z1 AS (SELECT event_type, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
       |z2 AS (SELECT event_type, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
       |hv AS (SELECT event_type, xor(z, z >> 31) AS z FROM z2),
       |br AS (SELECT event_type, z >> 56 AS bucket,
       |    CAST((CAST(z AS HUGEINT) * 256) % 18446744073709551616 AS UBIGINT) AS rem
       |  FROM hv),
       |rho AS (SELECT event_type, bucket, CASE $rhoCase ELSE 57 END AS rho FROM br),
       |regs AS (SELECT event_type, bucket, max(rho) AS reg FROM rho GROUP BY 1, 2)""".stripMargin
  }

  /** Deterministic synthetic point set for the spatial/layout gates: each
    * customer gets (lat_udeg, lon_udeg) uniform in [0, side) microdegrees
    * via the same engine-portable md5 20-bit draws as ZipfCorpus
    * (u·side >> 20 is exact int64 in both engines). The region side is
    * DENSITY-NORMALIZED: side = 250k µdeg · ⌈√N⌉, i.e. about one point per
    * search cell at every SF — real geo data grows in AREA at roughly
    * constant density, and this keeps the fixed-radius neighbor join's
    * output (and candidate work) LINEAR in N; a fixed region would go N².
    * ⌈√N⌉ via IEEE sqrt is portable: sqrt is correctly rounded and N ≪ the
    * scale where ceil could land off by one. The driver tables carry no
    * coordinates; like the Zipf corpus, the construction is part of the
    * gated plan, rebuilt byte-identically by the oracle.
    */
  private def geoPoints(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZipfCorpus.u20
    val cust = Tables.customer(s, dir)
    val side = cust.agg(
      (ceil(sqrt(count(lit(1)).cast("double"))) * lit(250000L)).as("sz"))
    def coord(salt: String): Column = shiftright(
      u20(concat(lit(s"g:$salt:"), col("c_custkey").cast("string"))) *
        col("sz"), 20)
    cust.crossJoin(broadcast(side)).select(
      col("c_custkey"),
      coord("lat").as("lat_udeg"),
      coord("lon").as("lon_udeg"))
  }

  /** DuckDB replay of [[geoPoints]] → CTE `pts(c_custkey, lat_udeg,
    * lon_udeg)`.
    */
  private lazy val GeoPtsCte: String = {
    def coordSql(salt: String) =
      s"(${graft.sources.ZipfCorpus.u20Sql(s"'g:$salt:' || CAST(c_custkey AS varchar)")} * sz) >> 20"
    s"""side AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS double))) AS bigint)
       |    * 250000 AS sz FROM customer),
       |pts AS (SELECT c_custkey,
       |    ${coordSql("lat")} AS lat_udeg,
       |    ${coordSql("lon")} AS lon_udeg
       |  FROM customer CROSS JOIN side)""".stripMargin
  }

  /** FnvMix HLL register replay over a caller-provided CTE
    * `hsrc(<groups>..., shingle)` → CTE chain ending in
    * `regs(<groups>..., bucket, reg)` — the grouped generalization of
    * [[CardRegsCtes]] (used by the q_agg_merge mergeable-state oracle,
    * whose grouping carries a derived month column).
    */
  private def hllRegsCtesOver(groups: Seq[String], seed: Long): String = {
    val g = groups.mkString(", ")
    val seedGolden = (BigInt(seed) * GoldenB).mod(BigInt(2).pow(64))
    val rhoCase = (1 to 56)
      .map(r => s"WHEN rem >= ${BigInt(2).pow(64 - r)} THEN $r")
      .mkString(" ")
    s"""folded AS (SELECT $g, $FnvFoldSql AS h FROM hsrc),
       |z0 AS (SELECT $g,
       |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
       |      AS UBIGINT) AS z FROM folded),
       |z1 AS (SELECT $g, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
       |z2 AS (SELECT $g, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
       |hv AS (SELECT $g, xor(z, z >> 31) AS z FROM z2),
       |br AS (SELECT $g, z >> 56 AS bucket,
       |    CAST((CAST(z AS HUGEINT) * 256) % 18446744073709551616 AS UBIGINT) AS rem
       |  FROM hv),
       |rho AS (SELECT $g, bucket, CASE $rhoCase ELSE 57 END AS rho FROM br),
       |regs AS (SELECT $g, bucket, max(rho) AS reg FROM rho
       |  GROUP BY $g, bucket)""".stripMargin
  }

  /** Count-min counter replay (depth 4) over a caller-provided CTE
    * `$src(shingle)` → a counter CTE `$out(r, bucket, cnt)` with
    * width-`$width` buckets — replays
    * `Sketch.countMinCounters(..., depth = 4, width, seed)`; CTE names are
    * caller-prefixed so two instances can coexist in one oracle (the
    * join-size sketch needs one per join side).
    */
  private def cmCountersCtes(src: String, out: String, width: Int,
      seed: Long): String = {
    val p = out
    s"""${p}_f AS (SELECT $FnvFoldSql AS h FROM $src),
       |${p}_j AS (SELECT h, r FROM ${p}_f CROSS JOIN rs),
       |${p}_z0 AS (SELECT r, CAST((CAST(h AS HUGEINT) +
       |    ($seed + r) * CAST('$GoldenB' AS HUGEINT)) % 18446744073709551616
       |    AS UBIGINT) AS z FROM ${p}_j),
       |${p}_z1 AS (SELECT r, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM ${p}_z0),
       |${p}_z2 AS (SELECT r, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM ${p}_z1),
       |${p}_hv AS (SELECT r, xor(z, z >> 31) AS z FROM ${p}_z2),
       |$out AS (SELECT r, cast(z % $width AS bigint) AS bucket, count(*) AS cnt
       |  FROM ${p}_hv GROUP BY 1, 2)""".stripMargin
  }

  /** Log-bucketed histogram replay (operators/Sketch.scala logHistogram)
    * over documents(source, n_chars): binary exponent from an exact integer
    * CASE chain (same no-floating-log2 rule as the HLL rank), then the
    * HdrHistogram bucket map with 4 sub-bucket bits — ends in CTE
    * `hist(source, bucket, cnt)`.
    */
  private lazy val HistCtes: String = {
    val eCase = (62 to 4 by -1)
      .map(k => s"WHEN v >= ${1L << k} THEN $k").mkString(" ")
    s"""vals AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
       |  WHERE n_chars IS NOT NULL AND n_chars >= 0),
       |ve AS (SELECT source, v, CASE $eCase ELSE 0 END AS e FROM vals),
       |hist AS (SELECT source,
       |    CASE WHEN v < 16 THEN v ELSE (e - 4) * 16 + (v >> (e - 4)) END AS bucket,
       |    count(*) AS cnt
       |  FROM ve GROUP BY 1, 2)""".stripMargin
  }

  /** Rank-select quantile finisher over CTE `hist`: integer cross-multiply
    * rank rule (cum·den ≥ N·num, no division), answer = the bucket's exact
    * integer lower bound. Ends in CTE `apx(source, q_label, approx_value)`.
    */
  private val HistQuantileCtes: String =
    """cum AS (SELECT source, bucket,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS c,
      |    sum(cnt) OVER (PARTITION BY source) AS n FROM hist),
      |t(q_label, qn, qd) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)),
      |sel AS (SELECT source, q_label, min(bucket) AS b FROM cum CROSS JOIN t
      |  WHERE c * qd >= n * qn GROUP BY 1, 2),
      |apx AS (SELECT source, q_label,
      |  CAST(CASE WHEN b < 32 THEN b
      |    ELSE (16 + b % 16) * (CAST(1 AS BIGINT) << (b // 16 - 1)) END
      |    AS BIGINT) AS approx_value FROM sel)""".stripMargin

  /** Retrieval oracle core shared by q_bm25 / q_rrf_fusion: the five seeded
    * queries, the tf/dl/df/corpus-constant folds over documents, query
    * tokens, and the BM25 term/score/rank chain (operators/Ranking.scala
    * bm25TopK) — ends in CTE `bmr(query_id, doc_id, score_q20,
    * n_terms_hit, rn)`; `tf`, `dfc`, `qt` stay visible for the TF-IDF
    * second ranker.
    */
  private lazy val RetrievalCtes: String =
    s"""q(query_id, qtext) AS (VALUES
       |  (CAST(1 AS BIGINT), 'spark window agg'),
       |  (CAST(2 AS BIGINT), 'customer join order'),
       |  (CAST(3 AS BIGINT), 'hash merge sort table'),
       |  (CAST(4 AS BIGINT), 'slow scan'),
       |  (CAST(5 AS BIGINT), 'vector stream batch data')),
       |posting AS (SELECT doc_id, unnest($TokSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM posting GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |cs AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
       |qt AS (SELECT DISTINCT query_id, unnest(
       |    list_distinct(list_filter(string_split_regex(lower(qtext), '\\s+'),
       |      t -> len(t) > 0))) AS token FROM q),
       |term AS (SELECT qt.query_id, tf.doc_id,
       |    CAST(floor(
       |      (CAST(2 * n - 2 * df + 1 AS DOUBLE) *
       |       CAST(22 * tf * sumdl AS DOUBLE) /
       |       (CAST(2 * df + 1 AS DOUBLE) *
       |        CAST(10 * tf * sumdl + 3 * sumdl + 9 * dl * n AS DOUBLE)))
       |      * 1048576.0) AS BIGINT) AS term_q20
       |  FROM tf JOIN qt USING (token) JOIN dfc USING (token)
       |    JOIN dl USING (doc_id) CROSS JOIN cs),
       |pd AS (SELECT query_id, doc_id, sum(term_q20) AS score_q20,
       |    count(*) AS n_terms_hit FROM term GROUP BY 1, 2),
       |bmr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_q20 DESC, doc_id) AS rn FROM pd)""".stripMargin

  /** Segment-dedup oracle over table/CTE `from` cut into `segWords`-token
    * segments; `lead` prepends corpus-construction CTEs.
    */
  private def segmentDedupOracleSql(lead: String, from: String, segWords: Int): String =
    s"""WITH ${lead}toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
       |st AS (SELECT doc_id, tk, n,
       |    list_filter(range(0, greatest(n, 1), $segWords), i -> i < n) AS ss FROM c),
       |segs AS (SELECT doc_id, u.j - 1 AS seg_idx,
       |    array_to_string(list_slice(tk, u.s + 1, u.s + $segWords), ' ') AS seg
       |  FROM (SELECT doc_id, tk,
       |      unnest(list_transform(range(1, len(ss) + 1),
       |        j -> struct_pack(j := j, s := ss[j]))) AS u
       |    FROM st)),
       |th AS (SELECT greatest(3, count(*) // 100) AS t FROM c),
       |dfc AS (SELECT seg, count(*) AS dc
       |  FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY 1),
       |hot AS (SELECT seg FROM dfc, th WHERE dc > t)
       |SELECT s.doc_id, cast(count(*) AS bigint) AS n_segs,
       |  cast(count(h.seg) AS bigint) AS n_removed,
       |  coalesce(string_agg(CASE WHEN h.seg IS NULL THEN s.seg END,
       |    ' ' ORDER BY s.seg_idx), '') AS clean_text
       |FROM segs s LEFT JOIN hot h ON s.seg = h.seg
       |GROUP BY 1""".stripMargin

  /** DuckDB replay of the FnvMix minhash signature + banding pipeline over
    * leading CTEs that must end in `posting(id, shingle)`: one FNV fold per
    * shingle, splitmix finalizer per permutation, signature mins as SIGNED
    * 64-bit like Spark's LongType, 8×4 banding — the WITH-chain through CTE
    * `banded(id, sig, band, bucket)`, shared by the self-join and
    * incremental (batch-vs-corpus) finishers. */
  private def minhashBandedCtes(lead: String): String =
    s"""$lead,
       |folded AS (SELECT id, $FnvFoldSql AS h FROM posting),
       |hx AS (SELECT id, h, unnest(range(0, 32)) AS i FROM folded),
       |z0 AS (SELECT id, i, CAST((CAST(h AS HUGEINT) +
       |    CAST(${mulModSql("CAST(i AS UBIGINT)", GoldenB)} AS HUGEINT))
       |    % 18446744073709551616 AS UBIGINT) AS z FROM hx),
       |z1 AS (SELECT id, i, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
       |z2 AS (SELECT id, i, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
       |hv AS (SELECT id, i, CAST(CAST(xor(z, z >> 31) AS HUGEINT) -
       |    CASE WHEN xor(z, z >> 31) >= 9223372036854775808
       |      THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS h FROM z2),
       |hm AS (SELECT id, i, min(h) AS m FROM hv GROUP BY 1, 2),
       |sigs AS (SELECT id, list(m ORDER BY i) AS sig FROM hm GROUP BY 1),
       |banded AS (SELECT id, sig, u.b AS band,
       |    array_to_string(list_transform(list_slice(sig, u.b * 4 + 1, u.b * 4 + 4),
       |      v -> cast(v AS varchar)), ',') AS bucket
       |  FROM sigs, (SELECT unnest(range(0, 8)) AS b) u)""".stripMargin

  /** q_dedup_eval replay: the LSH candidate set (the q_minhash_lsh_zipf
    * chain at τ = 0.5) full-outer-joined against EXACT Jaccard ≥ 0.5
    * ground truth computed over the SAME shingle posting (no df filter
    * — the Zipf corpus's rare shingles keep the self-join linear), then
    * one counts row: precision = tp/cand, recall = tp/truth.
    */
  private def dedupEvalSql: String =
    s"""WITH ${minhashBandedCtes(
          s"""${graft.sources.ZipfCorpus.ZdocsSql},
             |zsam AS (SELECT * FROM zdocs WHERE doc_id < 2000),
             |${shinglePostingSql("zsam")}""".stripMargin)},
       |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT id_a, id_b,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p),
       |lsh AS (SELECT id_a, id_b FROM est
       |  GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5),
       |tsz AS (SELECT id, count(*) AS ss FROM posting GROUP BY 1),
       |tp0 AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM posting a JOIN posting b
       |    ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM tp0
       |  JOIN tsz ta ON ta.id = tp0.id_a JOIN tsz tb ON tb.id = tp0.id_b
       |  WHERE cast(inter AS double) / (ta.ss + tb.ss - inter) >= 0.5),
       |j AS (SELECT t.id_a IS NOT NULL AS in_t, l.id_a IS NOT NULL AS in_l
       |  FROM truth t FULL JOIN lsh l
       |    ON t.id_a = l.id_a AND t.id_b = l.id_b)
       |SELECT
       |  cast(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS bigint) AS n_truth,
       |  cast(sum(CASE WHEN in_l THEN 1 ELSE 0 END) AS bigint) AS n_cand,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS bigint) AS n_tp,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS double) /
       |    cast(sum(CASE WHEN in_l THEN 1 ELSE 0 END) AS double) AS precision_,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS double) /
       |    cast(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS double) AS recall_
       |FROM j""".stripMargin

  private def minhashLshReplaySql(lead: String): String =
    s"""WITH ${minhashBandedCtes(lead)},
       |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT id_a, id_b,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p)
       |SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est
       |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin

  /** Incremental finisher: signatures are per-doc, so banding ALL docs and
    * splitting batch/corpus at the pair join is byte-identical to banding
    * the two filtered inputs separately (what the Spark side does). */
  private def minhashAgainstReplaySql(lead: String): String =
    s"""WITH ${minhashBandedCtes(lead)},
       |p AS (SELECT a.id AS id_new, b.id AS id_corpus,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.id % 5 = 0 AND b.id % 5 <> 0),
       |est AS (SELECT id_new, id_corpus,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p)
       |SELECT id_new, id_corpus, max(est_jaccard) AS est_jaccard FROM est
       |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin

  /** DuckDB fragment: sessionized events (adds session_seq per user). */
  private val SessSql =
    """WITH lagged AS (
      |  SELECT event_id, user_id, ts, event_type, value, props,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS is_start
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, cast(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS bigint) AS session_seq
      |  FROM lagged
      |)""".stripMargin

  /** DuckDB fragment: the full uptime pipeline (commissioned spans →
    * heartbeat gaps → daily allocation → per (user, day) uptime ratio) as a
    * WITH chain ending in CTE `uptime(user_id, date_id, uptime)` — shared by
    * the q_uptime oracle and the metric-layer oracle's average_uptime.
    */
  private val UptimeSql =
    """WITH spans AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end FROM events GROUP BY 1),
      |cdays AS (
      |  SELECT user_id, c_start, c_end,
      |    cast(unnest(generate_series(cast(date_trunc('day', c_start) AS timestamp),
      |      cast(date_trunc('day', c_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
      |  FROM spans
      |), commissioned AS (
      |  SELECT user_id, date_id,
      |    epoch_us(least(c_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |    epoch_us(greatest(c_start, cast(date_id AS timestamp))) AS c_us
      |  FROM cdays
      |), g AS (
      |  SELECT e.user_id, e.ts, lag(e.ts) OVER w AS prev, lead(e.ts) OVER w AS nxt,
      |    s.c_start, s.c_end
      |  FROM events e JOIN spans s ON e.user_id = s.user_id
      |  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
      |), gaps AS (
      |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, c_start, ts FROM g WHERE prev IS NULL AND ts > c_start
      |  UNION ALL
      |  SELECT user_id, ts, c_end FROM g WHERE nxt IS NULL AND ts < c_end
      |), big_gaps AS (
      |  SELECT user_id, from_ts, to_ts FROM gaps
      |  WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600
      |), gdays AS (
      |  SELECT user_id, from_ts, to_ts,
      |    cast(unnest(generate_series(cast(date_trunc('day', from_ts) AS timestamp),
      |      cast(date_trunc('day', to_ts) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
      |  FROM big_gaps
      |), downtime AS (
      |  SELECT user_id, date_id, sum(
      |    epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |    epoch_us(greatest(from_ts, cast(date_id AS timestamp)))) AS d_us
      |  FROM gdays
      |  WHERE epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |        epoch_us(greatest(from_ts, cast(date_id AS timestamp))) > 0
      |  GROUP BY 1, 2
      |), uptime AS (
      |  SELECT c.user_id, c.date_id,
      |    cast(c.c_us - coalesce(d.d_us, 0) AS double) / cast(c.c_us AS double) AS uptime
      |  FROM commissioned c LEFT JOIN downtime d
      |    ON c.user_id = d.user_id AND c.date_id = d.date_id
      |  WHERE c.c_us > 0
      |)""".stripMargin

  /** Shared IVF-PQ construction (q_ivf_pq / q_ivf_pq_rerank — §2#33k/33l):
    * deterministic coarse cells (the q_knn_ivf_det convention), PQ
    * codebooks trained on residuals x − coarse[cell] (the Jégou recipe),
    * candidates from the nprobe=2 cells nearest the probe, ADC distances
    * via per-cell broadcast tables (the probe's residual differs per
    * cell). Returns (candidate ADC frame `(vec_id, cell, code_0..3,
    * adc_d2)` over the probed cells — UNranked, callers pick ADC top-k or
    * re-rank, the raw embeddings frame, the probe vector).
    */
  private def ivfPqAdc(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Array[Double]) = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val coarse = Array.tabulate(8)(c => (c.toLong,
      Array.tabulate(64)(d => ((c * 13 + d * 7) % 5 - 2).toDouble)))
    val assigned = KMeans.assign(emb, "vec_id", "embedding", coarse)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val res = Pq.residuals(assigned, "vec_id", "embedding", "cell", coarse)
    val books = Pq.trainCodebooks(
      res.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", m = 4, k = 4, iters = 1)
    // `cell` rides through the encode projection — same scan, no re-join
    val codes = Pq.encode(res, "vec_id", "embedding", books, carry = Seq("cell"))
    val probe = emb.orderBy(col("vec_id")).limit(1).collect()(0)
      .getAs[scala.collection.Seq[Any]](1).iterator.map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(s"bad element $other")
      }.toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s2 = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s2 += d * d; i += 1 }
      s2
    }
    val probed = coarse.map { case (cell, c) => (d2(probe, c), cell) }
      .sorted.take(2).map(_._2)
    val dSub = probe.length / books.length
    val adcByCell = probed.map { cellId =>
      val cvec = coarse.find(_._1 == cellId).get._2
      val probeRes = Array.tabulate(probe.length)(i => probe(i) - cvec(i))
      val terms = books.map { case (sub, model) =>
        val pSub = probeRes.slice(sub * dSub, (sub + 1) * dSub)
        val table = model.map { case (code, c) => code -> d2(pSub, c) }
        element_at(
          map(table.flatMap { case (k2, v) => Seq(lit(k2), lit(v)) }: _*),
          col(s"code_$sub"))
      }
      (cellId, terms.reduceLeft(_ + _))
    }
    val adcExpr = adcByCell.tail.foldLeft(
      when(col("cell") === adcByCell.head._1, adcByCell.head._2)) {
      case (acc, (cellId, e)) => acc.when(col("cell") === cellId, e)
    }
    val cand = codes.filter(col("cell").isin(probed.map(Long.box).toSeq: _*))
      .withColumn("adc_d2", adcExpr)
    (cand, emb, probe)
  }

  // ---- queries ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2#1 typed staging projection — stg_chargers.sql shape
    "q_stg_cast" -> ((s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("string").as("customer_id"),
          trim(col("c_name")).as("name"),
          col("c_mktsegment").as("segment"),
          col("c_acctbal").as("acctbal"))
        .distinct()),

    // §2#2 JSON payload extraction — stg_ocpp_logs.sql shape
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"),
        col("event_type"))),

    // §2#2b OCPP JSON ARRAY frame parsing — stg_ocpp_logs.sql:24: message
    // type at [0], message id at [1], payload position depends on the type
    // (CALL=2 → [3], CALLRESULT=3 → [2]); frames synthesized from events
    "q_json_frame" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val msg = when(col("event_id") % 2 === 0,
          concat(lit("[2,\""), col("event_id"), lit("\",\""), col("event_type"),
            lit("\","), col("props"), lit("]")))
        .otherwise(concat(lit("[3,\""), col("event_id"), lit("\","), col("props"), lit("]")))
      ev.select(col("event_id"), msg.as("msg"))
        .select(
          col("event_id"),
          get_json_object(col("msg"), "$[0]").as("message_type_id"),
          get_json_object(col("msg"), "$[1]").as("unique_id"),
          when(get_json_object(col("msg"), "$[0]") === "2",
            get_json_object(col("msg"), "$[3].k"))
            .otherwise(get_json_object(col("msg"), "$[2].k"))
            .cast("bigint").as("k_value"))
    }),

    // §2#7c interval-scoped event enrichment with ordered array aggregation
    // — int_connector_preparing.sql:116-189: events falling inside a status
    // span are attached and rolled up as an ordered id array (ids are unique
    // per span here; emitted as a sorted joined string: engine-portable and
    // gate-hashable)
    "q_span_enrich" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spans = ev.filter(col("event_type") === "error").select(
        col("user_id"), col("event_id").as("span_id"),
        col("ts").as("from_ts"),
        (col("ts") + expr("interval 10 minutes")).as("to_ts"))
      val other = ev.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      other.join(spans, Seq("user_id"))
        .filter(col("ts") >= col("from_ts") && col("ts") < col("to_ts"))
        .groupBy(col("user_id"), col("span_id"))
        .agg(
          count(lit(1)).as("n_events"),
          array_join(
            transform(sort_array(collect_list(col("event_id"))), _.cast("string")), ",")
            .as("event_ids"))
    }),

    // §2#3 dim hierarchy join + surrogate key — dim_connectors.sql shape
    "q_dim_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(
          Keys.surrogateKey(col("c_custkey")).as("customer_key"),
          col("c_custkey"),
          col("c_name"),
          col("n_name").as("nation_name"),
          col("r_name").as("region_name"))),

    // §2#4 hierarchy cardinality rollup — fact_location_capacity.sql shape
    "q_capacity" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(
          countDistinct(col("n_nationkey")).as("n_nations"),
          countDistinct(col("c_custkey")).as("n_customers"))),

    // §2#5 latest row per key — int_connector_latest_status.sql shape
    "q_latest_status" -> ((s, dir) =>
      ChangeDetect.latestByKey(
          Tables.events(s, dir), Seq("user_id"), Seq("ts", "event_id"), Seq("event_type"))
        .select(
          col("user_id"),
          unix_micros(col("latest_ts")).as("latest_ts_us"),
          col("latest_event_type"))),

    // §2#6 min_by/max_by per key — int_driver_aggregates.sql shape
    "q_minby_maxby" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          unix_micros(min(col("ts"))).as("first_seen_us"),
          unix_micros(max(col("ts"))).as("last_seen_us"),
          min(struct(col("ts"), col("event_id"), col("event_type"))).as("_f"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("_l"))
        .select(
          col("user_id"), col("first_seen_us"), col("last_seen_us"),
          col("_f.event_type").as("first_event_type"),
          col("_l.event_type").as("last_event_type"))),

    // §2#7 ordered change detection — int_status_changes.sql shape
    "q_status_changes" -> ((s, dir) =>
      ChangeDetect.changes(
          Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
          Seq("user_id"), Seq("ts", "event_id"), "event_type")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("status"),
          col("previous_status"),
          unix_micros(col("previous_ts")).as("previous_ts_us"),
          col("next_status"),
          unix_micros(col("next_ts")).as("next_ts_us"))),

    // §2#7e SCD2 dimension history: the change stream as type-2 validity
    // versions (valid_from/valid_to/version/is_current) — the warehouse dim
    // build int_connector_latest_status.sql truncates to the argmax row of
    "q_scd2" -> ((s, dir) =>
      ChangeDetect.scd2(
          Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
          Seq("user_id"), Seq("ts", "event_id"), "event_type")
        .select(
          col("user_id"), col("event_type").as("status"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("version"), col("is_current"))),

    // §2#8 gap-based sessionization — fact_visits.sql visit grouping
    "q_sessionize" -> ((s, dir) =>
      sessionized(s, dir).select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("is_session_start"), col("session_seq"))),

    // §2#8e the FULL fact_visits pipeline: per-entity tag-inference chains
    // (2-min, stop→start gaps), then dynamic-gap sessionization (30 min
    // authenticated / 2 min anonymous, keyed by location+tag vs
    // location+entity), then per-visit rollup — fact_visits.sql:58-290.
    // Attempts are derived from events: charger=user, port=event parity,
    // location=user bucket, a deterministic stop offset, and a tag only on
    // purchase/click rows (so both the authenticated and anonymous paths and
    // the inference chains are exercised).
    "q_visits" -> ((s, dir) => {
      val attempts = Tables.events(s, dir).select(
        col("event_id"),
        col("user_id").cast("string").as("charger_id"),
        (col("event_id") % 2).cast("string").as("port_id"),
        (col("user_id") % 20).cast("string").as("location_id"),
        col("ts").as("start_ts"),
        timestamp_micros(
          unix_micros(col("ts")) + (lit(30L) + col("event_id") % 300L) * 1000000L)
          .as("stop_ts"),
        when(col("event_type").isin("purchase", "click"),
          concat(lit("T"), (col("user_id") % 7).cast("string"))).as("id_tag"),
        col("value"))
      Visits.visits(attempts, "location_id", Seq("charger_id", "port_id"),
          "start_ts", "stop_ts", "id_tag",
          authGapSeconds = 1800L, anonGapSeconds = 120L, chainGapSeconds = 120L,
          tieBreakCols = Seq("event_id"),
          extraAggs = Seq(
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
        .select(
          col("grouping_key"), col("visit_seq"),
          unix_micros(col("visit_start_ts")).as("visit_start_us"),
          unix_micros(col("visit_end_ts")).as("visit_end_us"),
          col("charge_attempt_count"), col("id_tag"), col("location_id"),
          col("total_value"))
    }),

    // §2#20b batch incremental merge — int_driver_aggregates incremental
    // branch: per-key first/last state built from the "previous runs" half
    // of the data, merged with the "new batch" half via
    // Incremental.mergeFirstLast; correctness oracle = the full-data
    // aggregate (the merge must equal a from-scratch recompute)
    "q_incremental_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      val existing = ev.filter(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(
          min(col("ts")).as("first_seen_ts"),
          max(col("ts")).as("last_seen_ts"),
          min_by(col("event_type"), struct(col("ts"), col("event_type"))).as("first_event_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_type"))).as("last_event_type"))
      val updates = ev.filter(col("ts") >= cutoff)
      Incremental.mergeFirstLast(
          existing, updates, "user_id", "ts", "event_type",
          firstTsCol = "first_seen_ts", lastTsCol = "last_seen_ts",
          firstValCol = "first_event_type", lastValCol = "last_event_type")
        .select(
          col("user_id"),
          unix_micros(col("first_seen_ts")).as("first_seen_us"),
          unix_micros(col("last_seen_ts")).as("last_seen_us"),
          col("first_event_type"), col("last_event_type"))
    }),

    // §2#9 per-session rollup — fact_visits.sql new_visits CTE
    "q_session_metrics" -> ((s, dir) =>
      sessionRollup(s, dir).select(
        col("user_id"), col("session_seq"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        unix_micros(col("session_end_ts")).as("session_end_us"),
        col("n_events"), col("total_value"), col("n_purchases"))),

    // §2#10 conditional-aggregate metric layer — README visit metrics
    "q_visit_rates" -> ((s, dir) =>
      sessionRollup(s, dir)
        .withColumn("is_successful", col("_last.event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("total_visits"),
          sum(when(col("is_successful") && col("n_events") === 1L, 1L).otherwise(0L))
            .as("first_attempt_success"),
          sum(when(col("is_successful") && col("n_events") > 1L, 1L).otherwise(0L))
            .as("troubled_success"),
          sum(when(!col("is_successful"), 1L).otherwise(0L)).as("failed_visits"),
          sum(col("n_events")).as("total_attempts"))
        .select(
          col("user_id"), col("total_visits"), col("first_attempt_success"),
          col("troubled_success"), col("failed_visits"), col("total_attempts"),
          round(col("first_attempt_success").cast("double") / col("total_visits"), 6)
            .as("first_attempt_success_rate"),
          round(col("troubled_success").cast("double") / col("total_visits"), 6)
            .as("troubled_success_rate"),
          round(col("failed_visits").cast("double") / col("total_visits"), 6)
            .as("failed_rate"),
          round(col("total_attempts").cast("double") / col("total_visits"), 6)
            .as("avg_attempts_per_visit"))),

    // §2#10b declarative metric layer — semantic_models.yml:310-383: the
    // reference's 10 metrics (6 simple + 4 ratio, incl. average_uptime)
    // declared ONCE as measures/metrics and instantiated over a dimension
    // here; MetricsSpec proves the same declarations re-instantiate over a
    // different grain unchanged. One aggregation pass per semantic model
    // (visit grain + uptime grain), joined on the dimension.
    "q_metric_layer" -> ((s, dir) => {
      import graft.metrics._
      val visits = sessionRollup(s, dir)
        .withColumn("is_successful", col("_last.event_type") === "purchase")
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val visitMetrics = visitSemanticModel.query(
        visits, Seq(col("cohort")),
        Seq("total_visits", "total_charge_attempts", "average_attempts_per_visit",
          "first_attempt_success", "troubled_success", "failed_visits",
          "first_attempt_success_rate", "troubled_success_rate", "failed_rate"))
      // uptime semantic model (yml:296-309): average_uptime over the
      // fact_uptime-shaped frame. The ratio is quantized to 2^-40 by BINARY
      // scaling (floor(x*2^40)/2^40): multiplying/dividing by a power of two
      // and floor are exact IEEE ops, every quantized value is k/2^40 with
      // k < 2^40, so partial double sums stay exact (< 2^53) — the mean is
      // association-order-free and bit-identical across engines (a decimal
      // cast is NOT: double→decimal rounds the shortest string repr in
      // Spark but the binary value in DuckDB, which diverges near ties)
      val q = lit(1099511627776.0) // 2^40
      val uptime = queries("q_uptime")(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val uptimeModel = SemanticModel(
        measures = Seq(Measure("uptime_average", MeasureAgg.Average,
          floor(col("uptime") * q) / q)),
        metrics = Seq(SimpleMetric("average_uptime", "uptime_average")))
      val uptimeMetrics =
        uptimeModel.query(uptime, Seq(col("cohort")), Seq("average_uptime"))
      visitMetrics.join(uptimeMetrics, Seq("cohort"), "left")
    }),

    // §2#11 bounded-window correlation — int_transactions.sql req↔conf
    "q_event_correlate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
      AsOf.correlateFirstWithin(
          signups, purchases, Seq("user_id"), "event_id", "ts", "ts",
          7L * 86400L, Seq("event_id", "value"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("matched_ts")).as("matched_ts_us"),
          col("matched_event_id"), col("matched_value"))
    }),

    // §2#7b point-in-interval join — int_connector_preparing.sql shape
    // (attach events falling inside each session's [start,end] interval)
    "q_interval_join" -> ((s, dir) => {
      val sessions = sessionRollup(s, dir).select(
        col("user_id"), col("session_seq"),
        col("session_start_ts"), col("session_end_ts"))
      val errors = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"))
      sessions.join(errors,
          sessions("user_id") === errors("user_id") &&
            col("err_ts") >= col("session_start_ts") &&
            col("err_ts") <= col("session_end_ts"),
          "left")
        .groupBy(sessions("user_id"), col("session_seq"))
        .agg(count(col("err_ts")).as("n_errors_in_session"))
    }),

    // §2#8b group-fill (retroactive identity inference) — fact_visits.sql
    // step 1: anonymous rows inherit the group's known identity
    "q_group_fill" -> ((s, dir) => {
      val tagged = sessionized(s, dir).withColumn("id_tag",
        when(col("event_type") === "purchase",
          concat(lit("tag_"), col("user_id"), lit("_"), get_json_object(col("props"), "$.k"))))
      val w = Window.partitionBy(col("user_id"), col("session_seq"))
      tagged.select(
        col("event_id"), col("user_id"), col("session_seq"), col("id_tag"),
        max(col("id_tag")).over(w).as("inferred_id_tag"))
    }),

    // §2#8c forward-fill (last non-null per key ordered by ts)
    "q_forward_fill" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("purchase_value",
          when(col("event_type") === "purchase", col("value")))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          last(col("purchase_value"), ignoreNulls = true).over(w)
            .as("last_purchase_value"))
    }),

    // §2#11c backward as-of join: each purchase picks the latest prior view
    // by the same user (trade↔quote shape) — union + carry-forward window,
    // one shuffle, no range join
    "q_asof_backward" -> ((s, dir) => {
      // null keys excluded on BOTH sides (and in the oracle): Spark window
      // partitioning groups null keys together while a SQL equi-join drops
      // them — filtering keeps the two engines' semantics aligned
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      AsOf.asOfBackward(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
              col("value").as("view_value")),
          Seq("user_id"), "ts", "ts", Seq("view_id", "view_value"),
          rightTieBreakCols = Seq("view_id"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_view_id"), col("asof_view_value"))
    }),

    // §2#11b full-outer merge-coalesce — fact_charge_attempts.sql
    // (two event-derived streams merged per key, fields coalesced)
    "q_fullouter_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_signups"), unix_micros(min(col("ts"))).as("first_signup_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("purchase_value"))
      signups.join(purchases, Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          coalesce(col("n_signups"), lit(0L)).as("n_signups"),
          col("first_signup_us"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
    }),

    // §2#12 merge adjacent/overlapping intervals — int_faulted_outages.sql
    "q_gaps_islands" -> ((s, dir) =>
      Intervals.mergeIntervals(eventIntervals(s, dir), Seq("user_id"), "from_ts", "to_ts")
        .select(
          col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"))),

    // §2#12b composite all-faulted outage rule — int_faulted_outages.sql
    // end-to-end: per-sub-entity islands → boundary sweep → full-coverage
    // segments → merged outage windows ("outage only while ALL connectors
    // are faulted"). Two "connectors" are derived from event-id parity.
    "q_faulted_outages" -> ((s, dir) => {
      val spans = Tables.events(s, dir).select(
        col("user_id"),
        (col("event_id") % 2).cast("string").as("connector_id"),
        col("ts").as("from_ts"),
        (col("ts") + expr("interval 10 minutes")).as("to_ts"))
      val required = spans.select("user_id").distinct()
        .withColumn("n_connectors", lit(2L))
      Outages.allFaultedOutages(spans, Seq("user_id"), "connector_id",
          "from_ts", "to_ts", required, "n_connectors")
        .select(col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"))
    }),

    // §2#13 concurrent-interval sweep — int_faulted_outages.sql overlap count
    "q_interval_sweep" -> ((s, dir) =>
      Intervals.sweepActiveCount(eventIntervals(s, dir), Seq("user_id"), "from_ts", "to_ts")
        .select(
          col("user_id"),
          unix_micros(col("segment_start")).as("segment_start_us"),
          unix_micros(col("segment_end")).as("segment_end_us"),
          col("active_count"))),

    // §2#14 heartbeat-gap detection — int_offline_outages.sql
    "q_offline_gaps" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts")
      val bounds = Tables.events(s, dir)
        .agg(min(col("ts")).as("mstart"), max(col("ts")).as("mend"))
      Intervals.heartbeatGaps(
          ev.crossJoin(broadcast(bounds)),
          Seq("user_id"), "ts", "mstart", "mend", 3600L)
        .select(
          col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"),
          col("gap_seconds"))
    }),

    // §2#15 calendar spine — dim_dates.sql
    "q_date_spine" -> ((s, dir) =>
      Intervals.dateSpine(s, "2024-01-01", "2024-12-31").select(
        col("date_id"),
        col("year").cast("long").as("year"),
        col("month").cast("long").as("month"),
        col("day").cast("long").as("day"),
        col("day_of_week").cast("long").as("day_of_week"),
        col("quarter").cast("long").as("quarter"),
        col("week_start_date"), col("month_start_date"),
        col("quarter_start_date"), col("year_start_date"))),

    // §2#16 interval→day allocation — fact_downtime_daily.sql
    "q_daily_overlap" -> ((s, dir) =>
      Intervals.allocateToDays(
          sessionRollup(s, dir).select(
            col("user_id"), col("session_start_ts"), col("session_end_ts")),
          "session_start_ts", "session_end_ts")
        .groupBy(col("user_id"), col("date_id"))
        .agg((sum(col("overlap_us")) / lit(60000000.0)).as("active_minutes"))),

    // §2#17 entity-lifetime × day spine — fact_charger_commissioned_daily.sql
    "q_commissioned_daily" -> ((s, dir) =>
      Intervals.allocateToDays(
          Tables.events(s, dir).groupBy(col("user_id"))
            .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end")),
          "c_start", "c_end")
        .select(col("user_id"), col("date_id"), col("overlap_minutes").as("minutes"))),

    // §2#18 uptime ratio — fact_uptime.sql
    "q_uptime" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts")
      val span = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end"))
      val commissioned = Intervals.allocateToDays(span, "c_start", "c_end")
        .select(col("user_id"), col("date_id"), col("overlap_us").as("c_us"))
      val gaps = Intervals.heartbeatGaps(
          ev.join(span, "user_id"), Seq("user_id"), "ts", "c_start", "c_end", 3600L)
        .select(col("user_id"), col("from_ts"), col("to_ts"))
      val downtime = Intervals.allocateToDays(gaps, "from_ts", "to_ts")
        .groupBy(col("user_id"), col("date_id"))
        .agg(sum(col("overlap_us")).as("d_us"))
      commissioned.join(downtime, Seq("user_id", "date_id"), "left")
        .withColumn("d_us", coalesce(col("d_us"), lit(0L)))
        .filter(col("c_us") > 0)
        .select(
          col("user_id"), col("date_id"),
          ((col("c_us") - col("d_us")).cast("double") / col("c_us").cast("double"))
            .as("uptime"))
    }),

    // §2#19 fixed time-bucket aggregation — fact_interval_data.sql
    "q_bucket15" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          Intervals.timeBucket(col("ts"), 900L).as("bucket_ts"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(
          unix_micros(col("bucket_ts")).as("bucket_start_us"),
          col("event_type"), col("n"), col("total_value"))),

    // §2#19c interval→15-min-bucket allocation with clipped partial first/
    // last buckets — fact_interval_data.sql:165-190
    "q_bucket_alloc" -> ((s, dir) =>
      Intervals.allocateToBuckets(eventIntervals(s, dir), "from_ts", "to_ts", 900L)
        .groupBy(col("user_id"), col("bucket_start"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("overlap_us")).as("total_overlap_us"))
        .select(
          col("user_id"),
          unix_micros(col("bucket_start")).as("bucket_us"),
          col("n_intervals"), col("total_overlap_us"))),

    // §2#19b keyed pivot — fivetran pivot_json_extract shape in
    // int_meter_values.sql: one column per measurand, fixed column set so
    // the schema is static at plan time
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
        .select(
          col("user_id"),
          coalesce(col("click"), lit(0.0)).as("click_value"),
          coalesce(col("view"), lit(0.0)).as("view_value"),
          coalesce(col("purchase"), lit(0.0)).as("purchase_value"),
          coalesce(col("signup"), lit(0.0)).as("signup_value"),
          coalesce(col("error"), lit(0.0)).as("error_value"))),

    // §2#20 per-entity profile — int_driver_aggregates.sql
    "q_user_aggs" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          unix_micros(min(col("ts"))).as("first_seen_us"),
          unix_micros(max(col("ts"))).as("last_seen_us"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))),

    // §2#21 array unnest → rollup — int_meter_values.sql
    "q_unnest_rollup" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct_tokens"),
          (sum(length(col("token"))).cast("double") / count(lit(1))).as("avg_token_len"))),

    // §2#22 wide mart aggregation (decimal-exact) — TPC-H Q1 shape.
    // Decimal sums leave as SCALED EXACT INTEGERS cast through bigint, then
    // ONE IEEE division: a direct decimal→double cast diverges by 1 ulp
    // across engines once the scaled value crosses 2^53 (DuckDB converts
    // int128→double then divides by 10^scale — two roundings; Spark's
    // BigDecimal rounds once), which sf1's scale-6 charge sums hit
    "q1_pricing" -> ((s, dir) => {
      def scaled(c: Column, scale: Long, name: String) =
        ((c * lit(scale)).cast("long").cast("double") / lit(scale.toDouble)).as(name)
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          scaled(sum(col("l_quantity").cast("decimal(12,2)")), 100L, "sum_qty"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)")), 100L, "sum_base_price"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))),
            10000L, "sum_disc_price"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")) *
            (lit(1).cast("decimal(3,2)") + col("l_tax").cast("decimal(3,2)"))),
            1000000L, "sum_charge"),
          (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") / count(lit(1)))
            .as("avg_price"),
          (sum(col("l_discount").cast("decimal(3,2)")).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // §2#22b multi-grain aggregation in ONE pass — GROUPING SETS
    // ((flag,status),(flag),()) through Catalyst's Expand (each input row
    // fans to its grains BEFORE the map-side partial agg, so the exchange
    // carries one partial per (grain,key), never grains× the corpus); the
    // standard grouping() flags disambiguate real NULL keys from rollup
    // rows. Decimal sums keep the measure association-order-free.
    "q_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          ((sum(col("l_quantity").cast("decimal(12,2)")) * lit(100L)).cast("long")
            .cast("double") / lit(100.0)).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))),

    // §2#23c analytic-rank ladder — ntile/percent_rank/cume_dist/dense_rank
    // over ONE shared (partition, order) window: Catalyst plans a single
    // exchange+sort for all four (the dbt "bucket customers into quartiles"
    // mart shape). The order includes the unique key, so rank semantics are
    // tie-free and engine-deterministic; percent_rank and cume_dist are one
    // exact integer division each.
    "q_rank_ladder" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        dense_rank().over(w).cast("long").as("drank"))
    }),

    // §2#23 top-N per group — dbt "qualify rn" pattern
    "q_topn_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    }),

    // §2#23b top-N per group via the custom TopKPerKey operator (bounded
    // heaps, no per-partition sort; see graft.plans.TopKPerKey)
    "q_topk_custom" -> ((s, dir) =>
      graft.plans.TopK.perKey(
        Tables.orders(s, dir).select("o_orderpriority", "o_orderkey", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        3)),

    // §2#24 star join + agg — fact_visits join shape / TPC-H Q5-ish.
    // The per-order revenue is aggregated BELOW the orders join: the
    // partial agg shrinks the shuffled fact side ~4:1, its l_orderkey
    // exchange is the exact partitioning the join needs, and with one
    // row per orderkey the countDistinct (expand + second exchange on
    // (region, nation, orderkey)) collapses to count(1). Decimal sums
    // are associative, so revenue stays hash-exact vs the flat oracle.
    "q_multi_join_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))).as("rev"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(
          sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))),

    // §2#25 exact dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")),

    // §2#58 HTML boilerplate extraction, block grain: a realistic page is
    // synthesized in-plan around each document's text (nav/share/aside/
    // footer chrome, script/style/comment junk, entity escapes, an inline
    // citation link), segmented at block tags, and scored by word count +
    // link density — the jusText-family keep rule. The oracle re-runs the
    // IDENTICAL pipeline in DuckDB (same RE2 patterns, same replace
    // chains), so the hash pins every regex and threshold
    // (operators/Html.scala)
    "q_html_extract" -> ((s, dir) => {
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      Html.blocks(pages, "doc_id", "html")
        .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
          col("text"), col("n_chars"), col("n_words"), col("link_chars"),
          round(col("link_density"), 6).as("link_density"),
          col("kept").cast("int").cast("long").as("kept"))
    }),

    // §2#58b HTML extraction composed into the text stack, doc grain: kept
    // blocks joined in block order, then the SAME token counting as
    // q_text_stats (Text.tokenCount) and a QualityFilter.decide verdict
    // over extraction-derived signals — the gated ingest→clean→score chain
    // of a web curation pipeline
    "q_html_clean" -> ((s, dir) => {
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      val cleaned = Html.extractText(pages, "doc_id", "html")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long"))
      QualityFilter.decide(cleaned, Seq(
          "too_short" -> (col("n_tokens") < 20),
          "boiler_heavy" -> (col("n_blocks_dropped") >= 10)))
        .select(col("doc_id"), col("text"), col("n_blocks_kept"),
          col("n_blocks_dropped"), col("n_tokens"),
          array_join(col("reasons"), ",").as("reasons"),
          col("keep").cast("int").cast("long").as("keep"))
    }),

    // §2#58b URL normalization — the web-curation stage before URL-level
    // dedup / per-domain weighting: scheme+host lowering, default-port
    // strip, tracking-param drop, bytewise param sort, path + fragment
    // canonicalization, registered-domain extraction (multi-label
    // public-suffix rule). Pure scan-side string/array functions (no UDF,
    // no shuffle); the messy-URL corpus is synthesized in-plan from
    // doc_id (the Zipf/HTML discipline) and the oracle rebuilds it
    // byte-identically, then replays every rule
    "q_url_normalize" -> ((s, dir) =>
      Url.normalize(
          Tables.documents(s, dir).select(col("doc_id"),
            Url.synthesizeUrl(col("doc_id")).as("url")),
          "doc_id", "url")
        .select(col("doc_id"), col("url"), col("url_canonical"),
          col("host"), col("registered_domain"), col("n_params_kept"))),

    // §2#59 link-graph PageRank (Brin & Page 1998) — the authority signal
    // curation pipelines weight quality by: 2 power iterations over an
    // in-plan synthesized link graph (≤3 u20-drawn out-edges per doc;
    // every 4th candidate edge dropped so out-degrees vary, and every
    // 10th doc emits NONE so it can only appear as a target — a genuine
    // dangling node, exercising the uniform mass redistribution). Per
    // iteration one shuffle (contribution sum on dst), map-side combined,
    // 2^-40-quantized sums → association-order-free, replayed exactly
    "q_pagerank" -> ((s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cnt = docs.agg(count(lit(1)).as("n_docs"))
      val edges = docs.crossJoin(broadcast(cnt))
        .select(col("doc_id"), col("n_docs"),
          explode(sequence(lit(0L), lit(2L))).as("i"))
        .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
          pmod(col("doc_id") + col("i"), lit(4)) =!= 0)
        .select(col("doc_id").as("src"),
          shiftright(
            u20(concat(lit("pr:"), col("i").cast("string"), lit(":"),
              col("doc_id").cast("string"))) * col("n_docs"), 20).as("dst"))
      Graph.pageRank(edges, "src", "dst", iters = 2)
        .select(col("node"), col("rank"))
    }),

    // §2#60 the COMPOSED batch curation pipeline — boilerplate extraction
    // → language id → quality decision → exact dedup (min-id winner), ONE
    // declarative plan with no materialization between stages: the
    // web-curation chain every corpus build runs, gated end-to-end at
    // surviving-doc grain (the batch counterpart of q_stream_ingest's
    // streaming composition). Catalyst fuses the scan-side stages
    // (lang-id, quality, fingerprint) onto their input; the chain plans
    // exactly TWO exchanges — the block re-assembly aggregation and the
    // dedup window — and never joins an intermediate (plan-spec-pinned)
    "q_curation_pipeline" -> ((s, dir) => {
      val names = Text.Langs.map(_._1)
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      val cleaned = Html.extractText(pages, "doc_id", "html")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long"))
      val hits = cleaned.withColumn("_lh",
        graft.plans.TextExpressions.langHits(col("text"), Text.Langs))
      val best = names.map(l => col(s"_lh.${l}_hits")).reduce(greatest(_, _))
      val pick = names.foldRight(lit("und"): Column) { (l, rest) =>
        when(col(s"_lh.${l}_hits") === best, lit(l)).otherwise(rest)
      }
      val lang = hits
        .withColumn("predicted_lang", when(best > 0, pick).otherwise(lit("und")))
        .drop("_lh")
      // the LEARNED langid (q_lang_classify's artifact) rides NEXT TO the
      // heuristic — same cleaned-text scan, still zero extra exchanges:
      // features hashed once into _bk, four literal-vector folds, argmax
      val mlWeights =
        (0 until 4).map(i => QualityClassifier.seededWeights(256, 101L + i))
      val langMl = lang
        .withColumn("_sums", LangClassifier.classSums(col("text"), mlWeights, 53L))
        .withColumn("lang_ml",
          LangClassifier.predictedFromSums(col("_sums"),
            LangClassifier.nFeatures(col("text")),
            Seq("en", "de", "fr", "es"), 0.05, 0.0).getField("lang"))
        .drop("_sums")
      val decided = QualityFilter.decide(langMl, Seq(
        "too_short" -> (col("n_tokens") < 20),
        "boiler_heavy" -> (col("n_blocks_dropped") >= 10)))
      val keepers = decided.filter(col("keep"))
        .withColumn("fingerprint", Text.fingerprint(col("text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
      keepers
        .withColumn("_winner", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("_winner"))
        .select(col("doc_id"), col("predicted_lang"), col("lang_ml"),
          col("n_tokens"), col("n_blocks_kept"), col("n_blocks_dropped"),
          col("fingerprint"))
    }),

    // §2#26 text quality stats via the native single-pass TokenStats
    // expression (graft.plans.TokenStats): one scan per document instead of
    // a tokenization per referenced statistic
    "q_text_stats" -> ((s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val nTok = col("_st.n_tokens")
      val punct = col("_st.punct_cnt")
      val stop = col("_st.stopword_cnt")
      val nChars = col("n_chars_calc")
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_calc"),
          stats.as("_st"))
        .select(
          col("doc_id"), nChars, nTok.as("n_tokens"), punct.as("punct_cnt"),
          stop.as("stopword_cnt"),
          round(Text.qualityScoreFrom(nTok, punct, stop, nChars), 6).as("quality"))
    }),

    // §2#26c Unicode NFC normalization + whitespace canonicalization —
    // the curation normalizer every web pipeline runs BEFORE tokenizing
    // (CCNet-style), so composed and decomposed spellings of the same
    // text dedup/count identically: NFC via the native NfcNormalize
    // kernel (JDK reference UAX #15 implementation, isNormalized
    // fast path returns the input untouched on the already-normalized
    // common case), then [ \t\r\n]+ runs collapse to one space and the
    // result trims. A third of the docs get a deterministically injected
    // decomposed suffix (combining acute/ring, the U+212B singleton, a
    // tab and a double space — the q_redact seeding discipline) so
    // composition, singleton replacement, reordering, collapse and trim
    // are all exercised; DuckDB's nfc_normalize implements the same
    // standard algorithm, so text bytes hash-match end to end
    "q_text_normalize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          concat(col("text"), lit(TextNormSuffix))).otherwise(col("text")).as("t"))
      docs
        .select(col("doc_id"), col("t"),
          graft.plans.TextExpressions.nfcNormalize(col("t")).as("_nfc"))
        .select(col("doc_id"),
          trim(regexp_replace(col("_nfc"), "[ \t\r\n]+", " ")).as("text_norm"),
          (length(col("t")) - length(col("_nfc"))).cast("long").as("n_composed"),
          col("t"))
        .select(col("doc_id"), col("text_norm"),
          length(col("text_norm")).cast("long").as("norm_len"),
          col("n_composed"),
          (col("text_norm") =!= col("t")).as("changed"))
    }),

    // §2#27 language-ID heuristic via the native single-pass LangHits
    // expression (one string scan for all 5 languages)
    "q_lang_id" -> ((s, dir) => {
      val names = Text.Langs.map(_._1)
      val hitCols = names.map(l => col(s"_lh.${l}_hits").as(s"${l}_hits"))
      val best = names.map(l => col(s"${l}_hits")).reduce(greatest(_, _))
      val pick = names.foldRight(lit("und"): Column) { (l, rest) =>
        when(col(s"${l}_hits") === best, lit(l)).otherwise(rest)
      }
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.plans.TextExpressions.langHits(col("text"), Text.Langs).as("_lh"))
        .select((col("doc_id") +: hitCols): _*)
        .withColumn("predicted_lang", when(best > 0, pick).otherwise(lit("und")))
    }),

    // §2#27b LEARNED multiclass language-id (fastText-langid shape) —
    // the stage real pipelines run after the stopword heuristic: hashed
    // char-trigram features × four per-class int8 weight vectors (seeded
    // stand-in artifacts, the q_quality_classifier discipline), exact
    // integer per-class sums, one IEEE affine per logit, argmax with ties
    // to the smaller class index. Zero shuffle — a pure map over the scan;
    // the whole decision (hash chain, sums, logits, argmax) replays
    // bit-for-bit in DuckDB
    "q_lang_classify" -> ((s, dir) =>
      LangClassifier.classify(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text",
        labels = Seq("en", "de", "fr", "es"),
        weightsPerClass =
          (0 until 4).map(i => QualityClassifier.seededWeights(256, 101L + i)),
        scale = 0.05, bias = 0.0, seed = 53L)),

    // §2#28 document fingerprint
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))),

    // §2#29 n-gram Jaccard near-dup pairs. The hot-shingle cap is CORPUS-
    // DERIVED (r14, closing the r13 sf100-decade finding): max(128,
    // 16384·n_docs ÷ postings) bounds candidates at ≤ 16k pairs/doc —
    // linear in N — where the old fixed 1000 measured 18.9e9 candidates
    // (70 GB spill) at sf10. Value ≈ 309–314 on every driver corpus/SF:
    // identical suppression to the old cap at sf0.001–sf1 (max df there
    // ≤ 138 on the dense corpus), and the oracle re-derives it in-query.
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)),

    // §2#29e the SAME operator gated on the OTHER corpus shape: the
    // deterministic open-vocabulary Zipf corpus (graft.sources.ZipfCorpus —
    // power-law word frequencies, planted near-dup/quote/boilerplate
    // structure). The driver corpus is the adversarial density ceiling
    // (every shingle's df grows with N); this is what production corpora
    // look like, and the prefix-filter math is corpus-shape-sensitive by
    // design — both shapes need hash-exact evidence.
    // runs through the EXPLICIT multi-scorer reuse path (Dedup.shingleSets
    // localCheckpoint + ngramJaccardOn) so the checkpoint hook itself is
    // driver-gated: its hashes must match the same DuckDB oracle as the
    // recompute path. (The plain-corpus q_ngram_jaccard keeps the default
    // single-scorer plan — PairMiningReuseSpec pins it checkpoint-free.)
    "q_ngram_jaccard_zipf" -> ((s, dir) =>
      Dedup.ngramJaccardOn(
        Dedup.shingleSets(
          graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
          "doc_id", "text", 3), 0.8)),

    // §2#29d containment/overlap-coefficient pairs |∩|/min(|A|,|B|):
    // catches quote/partial-copy inclusions whose jaccard is diluted by the
    // larger doc; same bounded inverted-index core as q_ngram_jaccard
    "q_containment" -> ((s, dir) =>
      Dedup.overlapPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)),

    // §2#29f containment on the Zipf corpus — the planted 12-word quote
    // docs are the exact quote-inclusion case (containment 1.0, jaccard
    // far below threshold) on a realistic corpus shape
    // reuse path, like q_ngram_jaccard_zipf (overlapPairsOn over the
    // checkpointed shingle sets)
    "q_containment_zipf" -> ((s, dir) =>
      Dedup.overlapPairsOn(
        Dedup.shingleSets(
          graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
          "doc_id", "text", 3), 0.8)),

    // §2#29b dedup DECISION: near-dup pairs → connected components →
    // canonical survivor per duplicate cluster (min doc_id reachable).
    // Every document is labeled with its cluster's keeper; is_canonical
    // marks the row a training pipeline would retain.
    "q_dedup_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
        .withColumn("is_canonical", col("canonical_id") === col("doc_id"))
    }),

    // §2#30 MinHash+LSH near-dup. The signature hash family is FnvMix
    // (FNV-1a + splitmix64 — graft.plans.HashExpressions), which DuckDB
    // replays exactly (limb-split wraparound multiplication), so the FULL
    // fast path — signatures, banding, est_jaccard — is hash-checked.
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5)),

    // §2#30f the LSH banding PLAN made explicit (the adviseJoin device
    // for dedup): every divisor split b·r = 32 scored by its S-curve
    // threshold's quantized-log2 distance to τ = 7/10, minimum chosen
    // (ties toward more bands = higher recall) — the parameters-sized
    // planner row that q_dedup_eval's precision/recall then measures
    "q_lsh_plan" -> ((s, _) =>
      Dedup.lshPlan(s, numHashes = 32, tauNum = 7L, tauDen = 10L)),

    // §2#30c the full minhash fast path on the Zipf corpus: banding must
    // collapse candidates to ≈ the planted pairs when shingles are rare —
    // the linearity the profile measured, now hash-gated
    "q_minhash_lsh_zipf" -> ((s, dir) =>
      Dedup.minhashLsh(
        graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
        "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5)),

    // §2#30e dedup-quality EVALUATION — the measurement loop every
    // curation stack needs before trusting an approximate dedup pass:
    // the LSH candidate set (exact q_minhash_lsh_zipf pipeline, τ = 0.5)
    // scored against EXACT Jaccard ≥ τ ground truth over the SAME
    // shingle sets (no df suppression); one row of counts + precision +
    // recall. Exact truth is inherently quadratic — that is WHY LSH
    // exists — so the eval runs on a FIXED-SIZE AUDIT BLOCK (the first
    // 2000 doc ids): constant cost at every SF (the q_semdedup lesson —
    // the first cut ran truth corpus-wide and went 18× for 10× at sf1,
    // timing out at sf10), and a CONTIGUOUS block, because the planted
    // near-dup pairs live between adjacent ids — an id-modulus sample
    // keeps a pair only when BOTH endpoints survive and measured zero
    // candidates. Auditing a block is the standard dedup-QA methodology
    "q_dedup_eval" -> ((s, dir) => {
      val docs = graft.sources.ZipfCorpus.docs(s, dir)
        .filter(col("doc_id") < 2000L)
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("_c"))
      val truth = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5,
          maxShingleDocFreq = Long.MaxValue)
        .select(col("id_a"), col("id_b"), lit(1).as("_t"))
      truth.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(col("_t")).as("n_truth"),
          count(col("_c")).as("n_cand"),
          count(when(col("_t").isNotNull && col("_c").isNotNull, 1))
            .as("n_tp"))
        .select(col("n_truth"), col("n_cand"), col("n_tp"),
          (col("n_tp").cast("double") / col("n_cand").cast("double"))
            .as("precision_"),
          (col("n_tp").cast("double") / col("n_truth").cast("double"))
            .as("recall_"))
    }),

    // §2#30d INCREMENTAL dedup — the production mode at corpus scale: a new
    // batch (docs with doc_id ≡ 0 mod 5, ~20 %) is deduped AGAINST the
    // existing corpus (the other 80 %) via the persistable minhash band
    // index; the corpus is never self-joined, only the increment's banded
    // rows probe it. Signatures are per-doc, so the oracle bands the whole
    // table once and splits at the pair join — byte-identical.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      Dedup.minhashLshAgainst(
        Dedup.minhashIndex(batch, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8),
        Dedup.minhashIndex(corpus, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8),
        numHashes = 32, threshold = 0.5)
    }),

    // §2#25d INCREMENTAL exact dedup — the missing `_inc` twin in the exact
    // family (minhash/embed/semdedup/ivf/graph all have one; q_stream_dedup
    // is the streaming sibling): the new batch (doc_id ≡ 0 mod 5, ~20 %)
    // probes a persisted corpus fingerprint index by equi-join on the
    // q_fingerprint key — the corpus is never re-grouped, only the batch's
    // fingerprints shuffle. Every batch doc gets a decision (dup_corpus /
    // dup_batch / new) plus its canonical keep_id; 'new' rows ARE the
    // append-only index delta. DedupSpec pins index-side batch exclusion
    // (a batch-only fingerprint can never report dup_corpus), merged-index
    // ≡ full-corpus fingerprint coverage, and the no-re-group plan shape.
    "q_dedup_exact_inc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      Dedup.exactAgainst(
        Dedup.fingerprintIndex(corpus, "doc_id", "text"),
        batch, "doc_id", "text")
    }),

    // §2#30b MinHash+LSH with a PORTABLE hash family: the exact pipeline of
    // q_minhash_lsh (signature mins → band buckets → bucket join → estimated
    // Jaccard) but with md5-derived 64-bit hashes that DuckDB can replicate
    // digit-for-digit — so the banding/bucketing/estimation math itself is
    // oracle-checked, not just row counts. (q_minhash_lsh keeps codegen'd
    // xxhash64 as the fast path; DuckDB has no xxhash64.)
    "q_minhash_md5" -> ((s, dir) => {
      val numHashes = 16
      val bands = 4
      val rowsPer = numHashes / bands
      // validation slice: md5 is ~5x costlier than xxhash64, so the
      // hash-exact check runs on a bounded sample (the whole table at the
      // sf0.01 gate); the fast xxhash64 variant covers full-scale timing
      val shingled = Tables.documents(s, dir).filter(col("doc_id") < 1000).select(
        col("doc_id").as("id"),
        explode(Text.wordShingles(col("text"), 3)).as("shingle"))
      val hashCols = (0 until numHashes).map(i =>
        conv(substring(md5(concat(lit(s"$i|"), col("shingle"))), 1, 16), 16, 10)
          .cast("decimal(20,0)").as(s"_h$i"))
      val hashed = shingled.select(col("id") +: hashCols: _*)
      val minAggs = (0 until numHashes).map(i => min(col(s"_h$i")).as(s"_m$i"))
      val sigs = hashed.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
      val banded = sigs.select(
          col("id"),
          array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"),
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"),
              concat_ws(",",
                (b * rowsPer until (b + 1) * rowsPer).map(i => col(s"_m$i").cast("string")): _*)
                .as("bucket"))): _*)).as("bb"))
        .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val l = banded.toDF("id_a", "sig_a", "band", "bucket")
      val r = banded.toDF("id_b", "sig_b", "band", "bucket")
      l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / numHashes).as("est_jaccard"))
        .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    }),

    // §2#31b SimHash with the portable md5 hash family: bit-sum folding,
    // sign fingerprint (as four 16-bit chunks), chunk-bucket join and
    // Hamming filter — the full simhash math, oracle-checked digit-for-
    // digit (the 64-bit hash rides as two 32-bit halves so both engines
    // can shift/mask it in plain bigint arithmetic).
    "q_simhash_md5" -> ((s, dir) => {
      // validation slice — see q_minhash_md5
      val shingled = Tables.documents(s, dir).filter(col("doc_id") < 1000).select(
        col("doc_id").as("id"),
        explode(Text.wordShingles(col("text"), 3)).as("shingle"))
      val hx = shingled
        .select(col("id"), md5(col("shingle")).as("_md5"))
        .select(col("id"),
          conv(substring(col("_md5"), 1, 8), 16, 10).cast("long").as("hi"),
          conv(substring(col("_md5"), 9, 8), 16, 10).cast("long").as("lo"))
      val bitSums = (0 until 64).map { b =>
        val src = if (b < 32) col("lo") else col("hi")
        sum(shiftright(src, b % 32).bitwiseAND(lit(1L)) * 2 - 1).as(s"_s$b")
      }
      val sums = hx.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      val chunkCols = (0 until 4).map { c =>
        (0 until 16).map(j =>
          when(col(s"_s${c * 16 + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as(s"chunk$c")
      }
      val fp = sums.select(col("id") +: chunkCols: _*)
      val banded = fp.select(
          col("id"), col("chunk0"), col("chunk1"), col("chunk2"), col("chunk3"),
          explode(array((0 until 4).map(c =>
            struct(lit(c).as("cidx"), col(s"chunk$c").as("piece"))): _*)).as("cp"))
        .select(col("id"), col("chunk0"), col("chunk1"), col("chunk2"), col("chunk3"),
          col("cp.cidx").as("cidx"), col("cp.piece").as("piece"))
      val l = banded.toDF("id_a", "c0a", "c1a", "c2a", "c3a", "cidx", "piece")
      val r = banded.toDF("id_b", "c0b", "c1b", "c2b", "c3b", "cidx", "piece")
      l.join(r, Seq("cidx", "piece"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (bit_count(col("c0a").bitwiseXOR(col("c0b"))) +
            bit_count(col("c1a").bitwiseXOR(col("c1b"))) +
            bit_count(col("c2a").bitwiseXOR(col("c2b"))) +
            bit_count(col("c3a").bitwiseXOR(col("c3b")))).cast("long").as("hamming"))
        .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
        .filter(col("hamming") <= 3)
    }),

    // §2#31 SimHash near-dup — hash-exact oracle via the FnvMix family
    // (see q_minhash_lsh); the 64-bit fingerprint, chunk banding and
    // Hamming filter are all replayed by the oracle.
    "q_simhash" -> ((s, dir) =>
      Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text",
        shingleLen = 3, maxHamming = 3)),

    // §2#32 brute-force cosine top-k. Exact DuckDB oracle: FloatDot is a
    // sequential double fold over the float elements, which list_reduce
    // replicates bit-for-bit (IEEE ops are deterministic given the same
    // order), so even the doubles hash-match.
    "q_knn_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnBruteForce(
          emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // §2#21b nested JSON array unnest + keyed rollup — int_meter_values.sql
    // shape: build a meter-values-like JSON payload, re-parse with from_json,
    // explode the array<struct>, aggregate per measurand
    "q_json_unnest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.withColumn("payload",
          concat(
            lit("[{\"m\":\"value\",\"v\":"), col("value").cast("string"),
            lit("},{\"m\":\"key\",\"v\":"), col("k").cast("string"), lit("}]")))
        .select(col("event_type"),
          explode(from_json(col("payload"),
            org.apache.spark.sql.types.DataType.fromDDL("array<struct<m:string,v:double>>"))).as("mv"))
        .select(col("event_type"), col("mv.m").as("m"), col("mv.v").as("v"))
        .groupBy(col("event_type"), col("m"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
          max(col("v")).as("max_v"))
    }),

    // §2#21c TWO-level nested JSON array unnest — int_meter_values.sql:92:
    // meterValue[] × sampledValue[] (outer group × inner measurand), double
    // lateral explode then keyed rollup. Parsing goes through Spark 4
    // the NATIVE MeterFrames kernel: one scan of the payload bytes emits
    // the flattened (grp, m, v) rows — one explode replaces parse → nested
    // cast → two explodes. The generic routes (from_json / parse_json →
    // VARIANT, both measured 1.2–1.9 s/round at sf0.1 in the r4
    // interleaved A/B against this kernel)
    // build a JSON tree per row in an interpreted projection; the kernel
    // stays inside whole-stage codegen and its Double.parseDouble is the
    // same correctly-rounded conversion, so the hash is unchanged.
    "q_nested_unnest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val payload = concat(
        lit("[{\"grp\":\"a\",\"sv\":[{\"m\":\"value\",\"v\":"), col("value").cast("string"),
        lit("},{\"m\":\"key\",\"v\":"), col("k").cast("string"),
        lit("}]},{\"grp\":\"b\",\"sv\":[{\"m\":\"key2\",\"v\":"), col("k").cast("string"),
        lit("}]}]"))
      ev.withColumn("payload", payload)
        .select(col("event_type"),
          explode(graft.plans.JsonExpressions.meterFrames(col("payload"))).as("r"))
        .select(col("event_type"), col("r.grp").as("grp"), col("r.m").as("m"),
          col("r.v").as("v"))
        .groupBy(col("event_type"), col("grp"), col("m"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
    }),

    // §2#33b IVF-Flat ANN — k-means cells aren't SQL-replayable, so the
    // gate hash-checks the RECALL ENVELOPE instead of neighbor ids: the
    // IVF top-k, measured against the exact brute-force top-k computed
    // alongside it, must recall ≥ 25% of true neighbors. The floor is
    // 2× the nprobe/nlist = 12.5% scan-fraction null (what random cell
    // choice would score on this structureless uniform corpus) with real
    // margin below the measured recall floor — re-measured r17:
    // 0.300/0.400/0.375 at sf0.001/0.01/0.1 (inc twin 0.350/0.400/0.425),
    // [0.30, 0.475] across sf0.001→sf10 — so a routing-quality
    // regression trips the gate instead of sliding inside the old 0.2
    // slack (the r16 verdict ask; 0.30 exactly would sit ON the sf0.001
    // measurement — a floor must not equal a measured point), with
    // n_probes/n_ret pinning non-empty cell search.
    // Exact neighbor lists stay pinned by the det twin q_knn_ivf_det.
    // SCALE RESTRICTION (here and in q_knn_ivf_inc + their oracles): the
    // envelope's n_ret oracle pins exactly k rows per probe, which holds
    // only while every probe's nprobe=2 cells together hold ≥ k non-self
    // candidates — validated at the driver scales sf0.001–sf10. A corpus
    // where a probed cell can run dry needs the n_ret pin relaxed to a
    // ≤ k·n_probes bound.
    // DECISION (r14, closing the r12 advice carry): keep the exact pin.
    // The strict n_ret = k·n_probes check is the stronger gate — it fails
    // loudly on a dry cell instead of silently tolerating one — and every
    // measured scale (sf0.001–sf10) satisfies it; relaxing to ≤ would
    // trade detection for generality the driver corpora never exercise.
    "q_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 8)
      val ivf = Similarity.knnIvf(
        emb, probes,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 2)
      val brute = Similarity.knnBruteForce(
        emb, probes, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      ivf
        .join(brute.select(col("probe_id"), col("neighbor_id"),
          lit(1L).as("_hit")), Seq("probe_id", "neighbor_id"), "left")
        .agg(
          lit(5L).as("k"),
          countDistinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_ret"),
          ((sum(coalesce(col("_hit"), lit(0L))) / count(lit(1))) >= 0.25)
            .as("recall_ok"))
    }),

    // §2#24b salted skew join — equals the plain join, skew-proof shuffle
    "q_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity"),
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
            .withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", "l_linenumber", 4)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty"))),

    // §2#24c Bloom runtime-filter join — the OTHER big-join lever next to
    // salting: the build side's key set rides as a bounded bit array and
    // prunes probe rows BEFORE their shuffle (a ~20%-selective build side
    // cuts probe shuffle bytes ~5×). No false negatives, so the result is
    // byte-identical to the plain join and the oracle is the plain SQL join.
    "q_bloom_join" -> ((s, dir) =>
      RuntimeFilter.bloomJoin(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("orderkey"), col("l_returnflag"),
              col("l_quantity")),
          Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey").as("orderkey"), col("o_orderstatus")),
          "orderkey", bloomBits = 1 << 16, nHashes = 4)
        .groupBy(col("o_orderstatus"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty"))),

    // §2#24d bucketed co-located join — the one-time-layout answer to the
    // recurring fact⋈fact shuffle: both sides written bucketed on their
    // join key (REAL bucketBy write path, external tables), then joined
    // with ZERO exchange on either side (BucketJoinPlanSpec pins it; the
    // only exchange in the gate plan is the final aggregation's). Content
    // gate: the join result must equal the plain SQL join on the originals.
    "q_bucket_join" -> ((s, dir) => {
      Bucketing.dropPrefixed(s, "graft_bkt_")
      val tmp = gateTmpDir("graft_bucket-")
      val n = System.nanoTime()
      val ot = s"graft_bkt_o_$n"
      val lt = s"graft_bkt_l_$n"
      Bucketing.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        ot, s"$tmp/orders", "o_orderkey", nBuckets = 8)
      Bucketing.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_returnflag", "l_quantity"),
        lt, s"$tmp/lineitem", "l_orderkey", nBuckets = 8)
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty"))
    }),

    // §2#33 LSH-bucketed ANN — the FAST path is now hash-exact too: the
    // default hyperplanes are engine-portable integer-derived uniforms
    // (Similarity.hyperplanes), so the oracle replays buckets, multi-probe
    // flips AND cosines digit-for-digit
    "q_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLsh(
          emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 6)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // §2#33c sign-LSH ANN with DETERMINISTIC integer hyperplanes
    // (component(p,d) = (p*31 + d*17) % 7 - 3): the exact bucket + rerank
    // pipeline of q_knn_lsh with arithmetic both engines reproduce exactly,
    // so bucketing AND cosines hash-match (the RNG-hyperplane variant stays
    // rows-only — the oracle can't replay scala.util.Random).
    "q_knn_lsh_det" -> ((s, dir) => {
      val planes = Array.tabulate(6, 64)((p, d) => ((p * 31 + d * 17) % 7 - 3).toDouble)
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLsh(
          emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 6,
          multiProbe = false, hyperplanesOverride = Some(planes))
        .withColumn("rank", col("rank").cast("long"))
    }),

    // §2#33m GRAPH ANN (the HNSW family, rebuilt data-parallel — see
    // Similarity.nswIndex for the written decision against literal
    // HNSW's serial insertion): LSH-seeded kNN graph refined by 2
    // NN-DESCENT rounds (Dong et al. 2011, the published bulk-parallel
    // construction), degree DERIVED from the corpus size (degreeFor —
    // HNSW's M at 16 below the measured 1e5-row collapse boundary,
    // doubling per decade above it under the n·degree² build budget;
    // the oracle replays the same integer rule from its own count(*)),
    // coarse-bucket smallest-id hubs as the flattened level hierarchy,
    // query-LOCAL entry at the probe's own coarse bucket's hubs; 4-hop
    // search at beamFor(degree). Per-probe candidates scored ≤ entries
    // + degree + hops·beam·2·degree — O(1) in corpus size vs IVF's corpus
    // fraction, at HIGHER measured recall (sf1: 0.50 vs IVF 0.35 on
    // 2.4× more candidates — SURVEY §6). The ENTIRE pipeline — buckets,
    // hubs, descent rounds, every beam hop — is integer/IEEE
    // deterministic and replays hash-exact in the oracle.
    //
    // ADJUDICATION (r16, the "board pays the NSW build twice" question):
    // this gate and q_knn_graph_inc CANNOT share one index — the indexes
    // are different artifacts by the semantics each gate exists to prove.
    // Here the graph is built over the FULL corpus including the probe
    // vectors (self-retrieval — the dedup/curation mode, where every
    // probe's own neighborhood must exist in the graph); the _inc gate's
    // index EXCLUDES the batch (the serving mode, spec-pinned exclusion).
    // Deriving either output from the other's index would silently
    // unprove one of those two contracts. The residual duplicate cost is
    // the shared seed stages only, and the r16 Dong §2.2 new/old-flag
    // descent cut each build's refine leg (old×old closure pairs skipped,
    // bit-identical output), so gate independence is kept.
    "q_knn_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnGraph(
        emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    // §2#33n INCREMENTAL graph ANN — the missing _inc twin in the ANN
    // family (q_knn_ivf_inc / q_embed_incremental / q_semdedup_incremental
    // discipline): the NSW index builds on the CORPUS only (the offline
    // persist-once leg — near/longEdges/hubs are the persistable
    // artifact), and a new vector batch pays only its own coarse-bucket
    // assignment + the O(1)-per-probe beam walk against the stored graph —
    // no rebuild, no corpus re-scan (index-side exclusion spec-pinned in
    // KnnGraphSpec). Same end-to-end integer/IEEE determinism, so the
    // oracle replays the corpus-only build AND the batch walk hash-exact
    "q_knn_graph_inc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnGraph(
        emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    // §2#33g distributed Lloyd k-means over the WHOLE corpus (vs the
    // bounded-sample driver trainer backing IVF): per iteration ONE
    // corpus scan — scan-side argmin over literal centroids (no join, no
    // corpus shuffle), centroid update = map-side-combined component agg
    // whose exchange carries ≤ k·D parameter rows. Seeds = k smallest-id
    // vectors; folds and quantized means are engine-exact, so the full
    // 2-iteration trajectory AND final assignment hash-match the oracle.
    "q_kmeans" -> ((s, dir) =>
      KMeans.lloyd(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 8, iters = 2)
        .select(col("vec_id"), col("cell"), col("dist2"))),

    // §2#33i k-means|| seeding (Bahmani et al., VLDB 2012) with every
    // random draw a portable FnvMix uniform: start = smallest (u, id)
    // draw, two oversampling rounds select x where u_r·φ < ℓ·d²(x,C)
    // over the 2^-30-quantized cost (φ sums association-order-free),
    // candidate weight = points nearest (assign's tie rule). The gate
    // emits the k heaviest candidates — the seeds lloydPp trains from —
    // and the ENTIRE construction (draws, distance folds, φ, selection,
    // weights, top-k) replays hash-exact in DuckDB. Fixes smallest-id
    // seeding's quality failure on adversarially ordered ids
    // (spec-pinned SSE comparison) while keeping the external replay.
    "q_kmeans_pp" -> ((s, dir) => {
      import s.implicits._
      KMeans.kmeansParallelCandidates(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", rounds = 2, ell = 16, seed = 29L)
        .sortBy { case (id, _, w) => (-w, id) }
        .take(8)
        .zipWithIndex
        .map { case ((id, _, w), i) => (i + 1L, id, w) }
        .toSeq.toDF("rank", "cell", "weight")
    }),

    // §2#33j product quantization + ADC search (Jégou et al. 2011) — the
    // compression layer of IVF-PQ, the standard disk-scale ANN layout:
    // 4 subspaces × k=4 codebooks trained per-subspace (smallest-id
    // seeds, ONE quantized-mean Lloyd round — fully SQL-replayable),
    // every vector encoded to 4 codes scan-side (native NearestCentroid,
    // zero shuffle), then ADC distances to a probe via broadcast
    // distance-table literals (M map lookups + a fixed-order sum per
    // row, D-independent search cost). Full corpus emitted: codes AND
    // ADC distances hash-match the DuckDB replay of training, encoding
    // and search end to end
    "q_pq_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val books = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 4, k = 4, iters = 1)
      val probe = emb.orderBy(col("vec_id")).limit(1).collect()(0)
        .getAs[scala.collection.Seq[Any]](1).iterator.map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => throw new IllegalArgumentException(s"bad element $other")
        }.toArray
      val codes = Pq.encode(emb, "vec_id", "embedding", books)
      Pq.adcDistances(codes, "vec_id", probe, books)
        .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"),
          col("code_3"), col("adc_d2"))
    }),

    // §2#33k IVF-PQ — the two gated layers COMPOSED into the actual
    // billion-vector layout: coarse IVF cells (deterministic centroids,
    // the q_knn_ivf_det convention) partition the corpus, PQ codebooks
    // train on RESIDUALS x − coarse[cell] (concentrating the code
    // distribution — the Jégou recipe), and search probes the nprobe=2
    // cells nearest the query with PER-CELL ADC tables (the probe's
    // residual differs per cell). Candidates never leave their cell
    // partition; search cost = candidate count × M lookups
    "q_ivf_pq" -> ((s, dir) => {
      val (cand, _, _) = ivfPqAdc(s, dir)
      cand.orderBy(col("adc_d2"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("cell"), col("code_0"), col("code_1"),
          col("code_2"), col("code_3"), col("adc_d2"))
    }),

    // §2#33l IVF-PQ with the EXACT RE-RANK stage (Jégou et al. §V) — the
    // production serving path: ADC orders the probed cells' candidates,
    // the top C=40 (4×k) are re-scored with exact sequential-fold
    // distances against the ORIGINAL vectors (broadcast candidate join;
    // the corpus is scanned once with a pushed join filter), and the
    // exact-ordered top-10 ships. Every stage deterministic, so the full
    // trajectory — training, encoding, ADC, candidate cut, exact
    // re-scoring — replays hash-exact in DuckDB
    "q_ivf_pq_rerank" -> ((s, dir) => {
      val (cand, emb, probe) = ivfPqAdc(s, dir)
      Pq.searchRerank(
          cand.select(col("vec_id"), col("cell"), col("adc_d2")),
          emb, "vec_id", "embedding", probe, c = 40, k = 10)
        .select(col("vec_id"), col("cell"), col("adc_d2"), col("exact_d2"))
    }),

    // §2#33h SemDeDup — the full cluster→in-cell-pairs→components→keep
    // DECISION (arXiv:2303.09540), composing three gated operators: the
    // TWO-LEVEL quantizer assignment (⌈√k⌉ coarse Lloyd cells, ⌈k/k1⌉
    // sub-cells trained inside each — r14, closing the r13 sf100 finding
    // that FLAT assignment at k ∝ n is n²/1024 distance folds, measured
    // 622 s / 41× per decade; two-level is n·2√k for the same ~k bounded
    // fine cells), bit-exact FloatDot cosines on an equi-join bounded per
    // fine cell (never a corpus self-join — k grows with the corpus so
    // Σ n_c² stays linear), and pointer-jumping components. Keep rule =
    // farthest-from-(sub)centroid member (the paper's), ties to smallest
    // id. k scales with the corpus (max(8, ⌈n/1024⌉): k=8 → 3×3 at every
    // driver SF, k=196 → 14×14 at the sf10 decade): SemDeDup's per-cell
    // quadratic term requires CELL SIZE held roughly constant as the
    // corpus grows — the paper's own contract; a fixed k would go
    // quadratic in the pair join (caught by the r8 sf10 decade) just as a
    // flat assignment goes quadratic in the scan (caught by r13 sf100).
    // The oracle replays BOTH Lloyd trajectories (coarse + per-cell sub).
    "q_semdedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val k = math.max(8L, (emb.count() + 1023L) / 1024L).toInt
      SemDeDup.semDedup(emb, "vec_id", "embedding", k = k, iters = 2, tau = 0.3)
    }),

    // §2#32c INCREMENTAL SemDeDup — the production mode of arXiv:2303.09540
    // and the vector-curation sibling of q_dedup_incremental /
    // q_embed_incremental: the k-means model trains on the CORPUS once
    // (k = max(8, ⌈n_corpus/1024⌉), the q_semdedup scaling; the model is
    // the TWO-LEVEL quantizer — batch assignment costs n_batch·2√k folds,
    // not n_batch·k), the corpus assignment persists as a (id, cell, vec,
    // norm) INDEX, and the new batch (vec_id ≡ 0 mod 5) pays only its own
    // scan-side assignment + a cell equi-join against the stored index —
    // the corpus is never re-clustered or self-joined. Hash-exact: the
    // oracle replays both 2-iter Lloyd trajectories on the corpus and
    // splits at the pair join.
    "q_semdedup_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val batch = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
      val corpus = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val k = math.max(8L, (corpus.count() + 1023L) / 1024L).toInt
      val model = KMeans.twoLevelModel(corpus, "vec_id", "embedding", k = k, iters = 2)
      SemDeDup.semDedupAgainst(batch,
        SemDeDup.semDedupIndex(corpus, "vec_id", "embedding", model),
        "vec_id", "embedding", model, tau = 0.3)
    }),

    // §2#33d IVF ANN with DETERMINISTIC integer centroids
    // (component(c,d) = (c*13 + d*7) % 5 - 2): cell assignment, nprobe cell
    // search and rerank all hash-match the oracle (the k-means-trained
    // variant stays rows-only — Lloyd iterations aren't SQL-replayable).
    "q_knn_ivf_det" -> ((s, dir) => {
      val centroids = Array.tabulate(8, 64)((c, d) => ((c * 13 + d * 7) % 5 - 2).toFloat)
      val emb = Tables.embeddings(s, dir)
      Similarity.knnIvf(
          emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2,
          trainedCentroids = Some(centroids))
        .withColumn("rank", col("rank").cast("long"))
    }),

    // §2#33e INCREMENTAL IVF ANN: the IVF sibling of q_dedup_incremental
    // / q_embed_incremental — the corpus is assigned ONCE into a
    // persistable (id, vec, norm, cell) index, each probe batch pays only
    // its own cell assignment + the cell equi-join, never a corpus
    // re-assignment. Gate = the same recall envelope as q_knn_ivf (k-means
    // training is not SQL-expressible; re-measured r17: 0.350/0.400/0.425
    // at sf0.001/0.01/0.1, 0.40–0.60 up to sf10, vs the 12.5%
    // scan-fraction null — floor raised 0.2 → 0.25 with the q_knn_ivf
    // rationale above); exact neighbor lists stay pinned by the det twin
    // below.
    "q_knn_ivf_inc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") >= 8)
      val probes = emb.filter(col("vec_id") < 8)
      val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding", nlist = 16)
      val ivf = Similarity.knnIvfAgainst(
        probes, Similarity.ivfIndex(corpus, "vec_id", "embedding", centroids),
        "vec_id", "embedding", k = 5, nprobe = 2, centroids)
      val brute = Similarity.knnBruteForce(
        corpus, probes, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      ivf
        .join(brute.select(col("probe_id"), col("neighbor_id"),
          lit(1L).as("_hit")), Seq("probe_id", "neighbor_id"), "left")
        .agg(
          lit(5L).as("k"),
          countDistinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_ret"),
          ((sum(coalesce(col("_hit"), lit(0L))) / count(lit(1))) >= 0.25)
            .as("recall_ok"))
    }),

    // §2#33f deterministic twin of 33e: fixed integer centroids, so cell
    // assignment, probe cell ranking AND cosines hash-match the oracle —
    // the batch-vs-index probe path is exact, not just non-empty
    "q_knn_ivf_inc_det" -> ((s, dir) => {
      val centroids = Array.tabulate(8, 64)((c, d) => ((c * 13 + d * 7) % 5 - 2).toFloat)
      val emb = Tables.embeddings(s, dir)
      Similarity.knnIvfAgainst(
          emb.filter(col("vec_id") < 8),
          Similarity.ivfIndex(
            emb.filter(col("vec_id") >= 8), "vec_id", "embedding", centroids),
          "vec_id", "embedding", k = 5, nprobe = 2, centroids)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // §2#34b embedding near-dup with deterministic hyperplanes (see 33c) —
    // SAME corpus-derived band geometry as q_embed_neardup (the fixed 2×3
    // geometry it shipped with had 8 buckets per band: quadratic-within-
    // bucket, measured 85 s at sf1), same integer hyperplane family, so the
    // band slicing AND the cosines hash-match the oracle
    "q_embed_neardup_det" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = math.min(15, Similarity.bandBitsFor(emb.count(), 64L))
      val planes = Array.tabulate(4 * bits, 64)(
        (p, d) => ((p * 31 + d * 17) % 7 - 3).toDouble)
      Similarity.embeddingNearDup(
        emb, "vec_id", "embedding",
        threshold = 0.25, bands = 4, bandBits = bits,
        hyperplanesOverride = Some(planes))
    }),

    // §2#34 embedding-cosine near-dup. 4 tables × bandBitsFor(N, 64) bits:
    // expected bucket size stays ≈ 64 as the corpus grows, so the
    // Σ|bucket|² candidate volume stays ≈ 64·N per band — LINEAR (the fixed
    // 5-bit geometry was right for sf0.1 but 16× over-coarse at sf1). The
    // corpus count is one cheap metadata-backed job; the oracle derives the
    // identical bits from count(*) via an integer CASE ladder. Hash-exact
    // oracle via the portable hyperplane family (see q_knn_lsh).
    "q_embed_neardup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = math.min(15, Similarity.bandBitsFor(emb.count(), 64L))
      Similarity.embeddingNearDup(
        emb, "vec_id", "embedding",
        threshold = 0.25, bands = 4, bandBits = bits)
    }),

    // §2#34c INCREMENTAL embedding near-dup — the vector-side counterpart
    // of q_dedup_incremental: a new embedding batch (vec_id ≡ 0 mod 5)
    // probes the existing corpus's persistable sign-LSH band index; the
    // corpus is never self-joined. Geometry (bandBitsFor over the FULL
    // count) is shared by both sides, so codes are per-vector and the
    // oracle can band once and split at the candidate join.
    "q_embed_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = math.min(15, Similarity.bandBitsFor(emb.count(), 64L))
      val batch = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
      val corpus = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
      Similarity.embeddingNearDupAgainst(
        Similarity.embeddingBandIndex(batch, "vec_id", "embedding",
          bands = 4, bandBits = bits),
        Similarity.embeddingBandIndex(corpus, "vec_id", "embedding",
          bands = 4, bandBits = bits),
        threshold = 0.25)
    }),

    // §2#44 embedding int8 quantization: per-vector symmetric scale,
    // round-clamp to [-127,127], and the reconstruction-error account a
    // compression decision needs. All double arithmetic is deterministic
    // IEEE ops and the error sum is a SEQUENTIAL fold, so every value
    // hash-matches the oracle (the knn bit-exact-float discipline).
    "q_embed_quantize" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("scale", Vectors.int8Scale(col("embedding")))
        .withColumn("q", Vectors.quantizeInt8(col("embedding"), col("scale")))
      emb.select(
        col("vec_id"),
        col("scale"),
        Vectors.int8SumAbsError(col("embedding"), col("q"), col("scale"))
          .as("sum_abs_err"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("l1_q"))
    }),

    // §2#35 multimodal metadata: REAL byte-level container parse. The gate
    // constructs real PNG/JPEG/GIF/BMP container bytes IN-PLAN from
    // per-doc parameters (Multimodal.syntheticImage — spec-faithful
    // headers via hex/unhex), then parses them back with the native
    // ImageMeta expression; the oracle re-derives every field
    // arithmetically from the same parameters, so the hash equality
    // proves parse(construct(p)) == p through actual encoded bytes.
    // Fully-valid golden files (CRC-correct PNG, camera-style JPEG,
    // WebP) are pinned byte-for-byte in ImageMetaSpec.
    "q_multimodal_meta" -> ((s, dir) => {
      val params = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(4)).cast("int").as("fmt"),
        (lit(16) + pmod(col("doc_id") * 3, lit(1000))).cast("int").as("w"),
        (lit(16) + pmod(col("doc_id") * 7, lit(800))).cast("int").as("h"))
      val withBytes = params.withColumn("payload",
        Multimodal.syntheticImage(col("fmt"), col("w"), col("h"), col("doc_id")))
      Multimodal.extractMeta(withBytes, "doc_id", "payload")
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("format"))
    }),

    // §2#35c audio/video container metadata: the q_multimodal_meta device
    // for the OTHER container families a corpus's binary columns carry —
    // real WAV/RIFF bytes (fmt chunk + zero-filled data chunk), real
    // MP4/ISO-BMFF box trees (ftyp + moov{mvhd + trak{tkhd + mdia{mdhd +
    // hdlr + minf/stbl/stsd}}}) and real MKV/EBML element trees (EBML
    // header + Segment{Info + Tracks/TrackEntry}, variable-length-int
    // encoded) constructed IN-PLAN from per-doc parameters, then parsed
    // back with the native MediaMeta walk (O(header), codegen, NULL on
    // the planted corrupt rows). The oracle re-derives every field
    // arithmetically — including the WAV duration's exact integer
    // division and the MKV audio spec-default sample rate — so hash
    // equality proves parse(construct(p)) == p through actual bytes
    "q_multimodal_av" -> ((s, dir) => {
      val p = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(6)).cast("int").as("fmt"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"),
        (lit(8000) + pmod(col("doc_id") * 37, lit(32000))).cast("int").as("rate"),
        (lit(8) + pmod(col("doc_id"), lit(2)) * 8).cast("int").as("bits"),
        pmod(col("doc_id") * 5, lit(256)).cast("int").as("db"),
        (lit(16) + pmod(col("doc_id") * 3, lit(1920))).cast("int").as("w"),
        (lit(16) + pmod(col("doc_id") * 7, lit(1080))).cast("int").as("h"),
        (lit(500) + pmod(col("doc_id") * 11, lit(60000))).cast("int").as("durms"))
      val withBytes = p.withColumn("payload",
        Multimodal.syntheticMedia(col("fmt"), col("ch"), col("rate"),
          col("bits"), col("db"), col("w"), col("h"), col("durms")))
      Multimodal.extractAvMeta(withBytes, "doc_id", "payload")
    }),

    // §2#35e CLIP-score filtering (DataComp, arXiv:2304.14108) — THE
    // image-text curation filter: keep pairs whose two-tower embedding
    // cosine clears a threshold. The encoders are the multimodal family's
    // deterministic stub (the q_multimodal_patches discipline — no image
    // libs in this container): the caption tower reuses the image
    // vector's EXACT float values, aligned pairs with one component
    // negated (cos ≈ 1 − 2e²), the planted ~20 % mismatches reversed
    // (cos ≈ 0 on uniform vectors). The FILTER layer — the sequential
    // double-fold cosine, thresholding, keep decision — is the real
    // operator and replays bit-exact (reorder/negation of floats is
    // exact, the q_knn_brute fold discipline). Scale shape: pure
    // scan-side projection, zero shuffle, codegen'd FloatDot.
    "q_clip_filter" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val caption = when(pmod(col("vec_id"), lit(5L)) === 0L,
          reverse(col("embedding")))
        .otherwise(concat(slice(col("embedding"), 1, 63),
          array((-element_at(col("embedding"), 64)).cast("float"))))
      emb.withColumn("cap_vec", caption)
        .withColumn("clip_score",
          graft.functions.Vectors.cosine(col("embedding"), col("cap_vec")))
        .select(col("vec_id"), col("clip_score"),
          (col("clip_score") >= 0.5).as("kept"))
    }),

    // §2#35d audio-CODEC container metadata — MediaMeta's remaining
    // families (FLAC STREAMINFO bit fields, ID3v2 + MPEG-1 Layer III MP3
    // with the CBR duration estimate, Ogg first pages carrying Vorbis and
    // Opus id packets), gated with the same construct-then-parse device:
    // real container bytes built in-plan, fmt 4 a truncated-STREAMINFO
    // corrupt row whose metadata must come back NULL with n_bytes intact
    "q_media_audio" -> ((s, dir) => {
      val p = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(6)).cast("int").as("fmt"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"),
        (lit(8000) + pmod(col("doc_id") * 37, lit(32000))).cast("int").as("rate"),
        (lit(8) + pmod(col("doc_id"), lit(3)) * lit(4)).cast("int").as("bits"),
        (lit(1000) + pmod(col("doc_id") * 13, lit(100000))).cast("long").as("samples"),
        (lit(1) + pmod(col("doc_id"), lit(14))).cast("int").as("br_idx"),
        pmod(col("doc_id"), lit(3)).cast("int").as("sr_idx"),
        pmod(col("doc_id") * 3, lit(4)).cast("int").as("ch_mode"),
        pmod(col("doc_id") * 5, lit(256)).cast("int").as("db"))
      val withBytes = p.withColumn("payload",
        Multimodal.syntheticAudio(col("fmt"), col("ch"), col("rate"),
          col("bits"), col("samples"), col("br_idx"), col("sr_idx"),
          col("ch_mode"), col("db")))
      Multimodal.extractAvMeta(withBytes, "doc_id", "payload")
    }),

    // §2#37 sketch aggregates: HLL distinct sketch (mergeable across
    // partitions/days — the scale path for distinct counts) next to the
    // exact count. The datasketches estimate itself is engine-specific,
    // so the gate hash-checks its ERROR ENVELOPE instead: the estimate
    // must land within ±5% of the exact distinct computed alongside it
    // (default lgK=12 ⇒ rsd ≈ 1.6%; measured rel-err ≤ 2.03% at sf10,
    // ≤ 0.99% at sf1, 0 below — ≥ 2.4× headroom), making the row a real
    // driver-verified gate rather than rows-only.
    "q_hll_sketch" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          (abs(hll_sketch_estimate(hll_sketch_agg(col("user_id"))) -
            countDistinct(col("user_id"))) <=
            countDistinct(col("user_id")) * 0.05).as("hll_within_5pct"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))),

    // §2#37b engine-portable mergeable cardinality sketch: same distinct-
    // count surface as q_hll_sketch but with row-shaped FnvMix registers and
    // an exact-arithmetic raw-HLL estimator, so the WHOLE sketch pipeline
    // (hash -> bucket -> rank -> max-register -> estimate) hash-matches the
    // DuckDB oracle bit-for-bit. The estimate rides next to the exact count.
    "q_card_sketch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val est = Sketch.estimate(
        Sketch.registers(ev, Seq("event_type"), col("user_id"), seed = 11L),
        Seq("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
      est.withColumnRenamed("approx_distinct", "approx_users")
        .join(exact, "event_type")
    }),

    // §2#37d count-min frequency sketch — the FREQUENCY member of the
    // portable sketch family (HLL registers = cardinality,
    // q_quantile_phase = quantiles): plain-row counters (r, bucket, cnt)
    // over the FnvMix family, point estimates = min over depth cells for
    // the exact top-20 tokens. Every step (hash, bucket, counter, min)
    // replays in the oracle; est >= true by construction and the emitted
    // overcount column shows the sketch error directly.
    "q_count_min" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      val counters = Sketch.countMinCounters(toks, Nil, col("token"),
        depth = 4, width = 1024, seed = 17L)
      val truth = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
      val probes = truth.orderBy(col("true_cnt").desc, col("token")).limit(20)
      Sketch.countMinEstimate(counters, probes.select(col("token")), Nil,
          "token", depth = 4, width = 1024, seed = 17L)
        .join(probes, Seq("token"))
        .select(col("token"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("true_cnt")).as("overcount"))
    }),

    // §2#37e the SAME count-min counters built through the streaming
    // stateful-agg path: counting is associative-commutative, so the
    // complete-mode final counter table must equal the batch one across
    // real micro-batch boundaries — the frequency twin of q_stream_sketch.
    "q_stream_cm" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(col("ts"), col("event_type"), col("user_id")),
        Seq("ts"), "q_stream_cm")
      val counters = Sketch.countMinCounters(
        stream.select(col("event_type"), col("user_id")),
        Seq("event_type"), col("user_id"), depth = 4, width = 256, seed = 19L)
      val name = freshStreamTable(s, "q_stream_cm_")
      val q = counters.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("event_type"), col("r").cast("long").as("r"),
        col("bucket"), col("cnt").cast("long").as("cnt"))
    }),

    // §2#37c STREAMING sketch gate — the S7 batch-equivalence proof as a
    // driver-gated query: StreamSketch.registers runs over a bounded FILE
    // STREAM of the events table (Trigger.AvailableNow — the stream sees
    // the data in file-sized micro-batches through the real stateful-agg
    // path, complete-mode memory sink), and the FINAL streaming state is
    // returned and oracle-checked against the same FnvMix register replay
    // as q_card_sketch. Registers are associative/idempotent maxes, so
    // stream-final must equal batch — this gate pins that end to end.
    "q_stream_sketch" -> ((s, dir) => withGateShuffle(s) {
      // multi-batch replay: register maxes are associative/idempotent, so
      // the final complete-mode state is batching-independent — the replay
      // proves it across ≥6 REAL micro-batch state commits
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(col("ts"), col("event_type"), col("user_id")),
        Seq("ts"), "q_stream_sketch")
      val regs = graft.streaming.StreamSketch.registers(
        stream.select(col("event_type"), col("user_id")),
        Seq("event_type"), "user_id", seed = 11L)
      val name = freshStreamTable(s, "q_stream_sketch_")
      val q = regs.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("event_type"), col("bucket"),
        col("reg").cast("long").as("reg"))
    }),

    // §2#37f log-bucketed histogram — the QUANTILE member of the portable
    // sketch family (HLL = cardinality, count-min = frequency): HdrHistogram-
    // style integer bucketing (binary exponent + 4 sub-bucket bits, pure
    // shifts, no log()), rank-select estimates with relative error < 2^-4.
    // The approx quantile rides NEXT TO the exact order statistic computed
    // by the same rank definition, so the emitted rel_err shows the sketch
    // error directly — and every step replays in the oracle.
    "q_quantile_sketch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val targets = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
      val approx = Sketch.histQuantiles(
        Sketch.logHistogram(docs, Seq("source"), col("n_chars")),
        Seq("source"), targets)
      // exact order statistic, SAME rank rule (min v with cum ≥ ceil(qN)) —
      // not percentile_disc, whose tie handling varies across engines
      val vc = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum("_c").over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))))
        .withColumn("_n", sum("_c").over(Window.partitionBy(col("source"))))
      val exact = vc
        .select(col("source"), col("n_chars"), col("_cum"), col("_n"),
          explode(array(targets.map { case (l, n, d) =>
            struct(lit(l).as("q_label"), lit(n.toLong).as("_qn"),
              lit(d.toLong).as("_qd"))
          }: _*)).as("_t"))
        .where(col("_cum") * col("_t._qd") >=
          col("_n") * col("_t._qn")) // cum ≥ ceil(n·qn/qd) ⇔ cum·qd ≥ n·qn
        .groupBy(col("source"), col("_t.q_label").as("q_label"))
        .agg(min(col("n_chars")).as("exact_value"))
      approx.join(exact, Seq("source", "q_label"))
        .select(col("source"), col("q_label"), col("approx_value"),
          col("exact_value"),
          ((col("exact_value") - col("approx_value")).cast("double") /
            col("exact_value").cast("double")).as("rel_err"))
    }),

    // §2#37g histogram MERGE algebra driver-gated: histograms built over two
    // disjoint corpus halves, merged, then quantiled — hash-equal to the
    // oracle's single-pass histogram over the whole corpus. This is the
    // 100 TB mode: per-day/per-shard histograms persist and roll up to any
    // range without touching raw data (exact percentiles can never do this).
    "q_hist_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val half = (r: Int) => docs.where(pmod(col("doc_id"), lit(2)) === r)
      val merged = Sketch.mergeHistograms(
        Sketch.logHistogram(half(0), Seq("source"), col("n_chars")),
        Sketch.logHistogram(half(1), Seq("source"), col("n_chars")),
        Seq("source"))
      Sketch.histQuantiles(merged, Seq("source"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
    }),

    // §2#37h the SAME histogram built through the streaming stateful-agg
    // path: bucket counting is associative-commutative, so the complete-mode
    // final histogram must equal the batch one across real micro-batch
    // boundaries — the quantile twin of q_stream_cm / q_stream_sketch.
    "q_stream_hist" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"), "q_stream_hist")
      val hist = Sketch.logHistogram(stream, Seq("source"), col("n_chars"))
      val name = freshStreamTable(s, "q_stream_hist_")
      val q = hist.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("source"), col("bucket"),
        col("cnt").cast("long").as("cnt"))
    }),

    // §2#3b stream-STATIC enrichment join — the one streaming operator
    // class the board didn't yet gate: every micro-batch of the event
    // stream joins the static customer dimension (broadcast, the same
    // plan shape as the batch q_dim_join), then a stateful agg rolls the
    // enriched stream up per segment. Complete-mode final state must
    // equal the batch join+agg — gated across ≥5 real micro-batches.
    "q_stream_enrich" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(col("ts"), col("user_id"), col("value")),
        Seq("ts"), "q_stream_enrich")
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      val name = freshStreamTable(s, "q_stream_enrich_")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("c_mktsegment"), col("n_events"),
        col("total_value"))
    }),

    // §2#11d STREAM-STREAM time-interval join — the hardest streaming
    // operator class (two watermarked sides, range condition, state
    // retention governed by the watermark): each view pairs with the same
    // user's purchases within the next 30 minutes. Deterministic and
    // batch-equivalent BY CONSTRUCTION here: the replay files are ordered
    // by event time, and the 1 h watermark delay exceeds the 30 min join
    // window, so neither side's state can be evicted before every
    // possible partner has arrived — the final append output must equal
    // the batch interval join, hash-checked.
    "q_stream_join" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir)
          .select(col("ts"), col("user_id"), col("event_id"), col("event_type")),
        Seq("ts"), "q_stream_join")
      val views = stream.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
          unix_micros(col("v_ts")).as("view_us"),
          unix_micros(col("p_ts")).as("purchase_us"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      val name = freshStreamTable(s, "q_stream_join_")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name)
    }),

    // §2#11e watermarked stream-stream LEFT OUTER interval join — the
    // state-EVICTION semantics inner joins never exercise: an unmatched
    // view row is emitted only when the watermark PROVES no purchase can
    // still arrive in its window, so outer results are produced by state
    // cleanup itself. Two far-future sentinel rows (the q_stream_outages
    // device) drive the final watermark past every open window, making the
    // emitted set deterministic and equal to the batch LEFT JOIN oracle.
    "q_stream_left_join" -> ((s, dir) => withGateShuffle(s) {
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      // one-scalar bounds lookup (driver-side parameter, not data)
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val (rdir, stream) = orderedReplay(s, ev, Seq("ts"), "q_stream_left_join")
      val t1 = mendUs + 4L * 3600L * 1000000L
      val t2 = t1 + 4L * 3600L * 1000000L
      // sentinel pair per step: the global watermark is the MIN over both
      // inputs' watermarks, so views AND purchases each need a far-future
      // row or the lagging side pins eviction short of the last windows
      Seq(t1, t2).foreach { t =>
        graft.streaming.FileReplay.appendFile(
          s.range(1).select(
            expr(s"timestamp_micros(${t}L)").as("ts"),
            lit(-1L).as("user_id"), lit(-1L).as("event_id"),
            lit("view").as("event_type"))
            .unionByName(s.range(1).select(
              expr(s"timestamp_micros(${t}L)").as("ts"),
              lit(-1L).as("user_id"), lit(-2L).as("event_id"),
              lit("purchase").as("event_type"))), rdir)
      }
      val views = stream.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
          unix_micros(col("v_ts")).as("view_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
      val name = freshStreamTable(s, "q_stream_left_join_")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).filter(col("user_id") =!= lit(-1L))
    }),

    // §2#11f watermarked stream-stream FULL OUTER interval join — BOTH
    // state stores' watermark cleanup must emit null-extended rows: an
    // unmatched view when no purchase can still arrive in its window, an
    // unmatched purchase when no view can still open one over it. The
    // q_stream_left_join sentinel device generalizes: the sentinel pair
    // rides both inputs, driving the global watermark (the MIN over both)
    // past every open window on each side, so the emitted set equals the
    // batch FULL JOIN oracle exactly.
    "q_stream_full_join" -> ((s, dir) => withGateShuffle(s) {
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val (rdir, stream) = orderedReplay(s, ev, Seq("ts"), "q_stream_full_join")
      val t1 = mendUs + 4L * 3600L * 1000000L
      val t2 = t1 + 4L * 3600L * 1000000L
      Seq(t1, t2).foreach { t =>
        graft.streaming.FileReplay.appendFile(
          s.range(1).select(
            expr(s"timestamp_micros(${t}L)").as("ts"),
            lit(-1L).as("user_id"), lit(-1L).as("event_id"),
            lit("view").as("event_type"))
            .unionByName(s.range(1).select(
              expr(s"timestamp_micros(${t}L)").as("ts"),
              lit(-1L).as("user_id"), lit(-2L).as("event_id"),
              lit("purchase").as("event_type"))), rdir)
      }
      val views = stream.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
          "full_outer")
        .select(coalesce(col("v_user"), col("p_user")).as("user_id"),
          col("view_id"), col("purchase_id"),
          unix_micros(col("v_ts")).as("view_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
      val name = freshStreamTable(s, "q_stream_full_join_")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).filter(col("user_id") =!= lit(-1L))
    }),

    // §2#19d the tumbling-window stream (S3) driver-gated through the REAL
    // Structured Streaming stateful-agg path: events streamed as a bounded
    // file source, StreamBucketAgg.tumbling's final window state must equal
    // the batch 15-minute bucketing (same SQL oracle family as q_bucket15).
    // Complete mode so every window survives to the final table — the
    // watermark/append finalization semantics are spec-tested (S3 spec).
    "q_stream_bucket15" -> ((s, dir) => withGateShuffle(s) {
      // multi-batch replay: count/decimal-sum window state is associative,
      // so complete-mode final windows are batching-independent — proven
      // here across ≥6 real windowed-stateful-agg micro-batch commits
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(col("ts"), col("event_type"), col("value")),
        Seq("ts"), "q_stream_bucket15")
      val buckets = graft.streaming.StreamBucketAgg.tumbling(
        stream, Seq("event_type"), "ts", "15 minutes", "0 seconds",
        Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
      val name = freshStreamTable(s, "q_stream_bucket15_")
      val q = buckets.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(
        unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("event_type"),
        col("n_events").as("n"),
        col("total_value"))
    }),

    // §2#7d the change-detection stream (S2) driver-gated through the REAL
    // flatMapGroupsWithState path: events replayed as an event-time-ordered
    // multi-file stream (FileReplay), so per-key last-status state crosses
    // ≥6 REAL micro-batch boundaries — the production failure mode — and
    // the append-mode transitions must still equal the batch lag-based
    // change detection. The replay orders files on (ts, event_id), so rows
    // tied on ts land in event_id order across a chunk boundary too,
    // matching the oracle's lag(... ORDER BY ts, event_id) exactly.
    // previous_ts is NOT gated: the stream states the last TRANSITION's ts
    // while the batch lags the last EVENT's ts — same previous_status (all
    // events between two transitions share a status), different timestamp
    // meaning.
    "q_stream_changes" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(
          col("user_id").cast("long").as("key"), col("ts"),
          col("event_type").as("status"), col("event_id").cast("long").as("event_id")),
        Seq("ts", "event_id"), "q_stream_changes")
      val evts = stream.as(org.apache.spark.sql.Encoders.product[
        graft.streaming.StreamChangeDetect.StatusEvent])
      val changes = graft.streaming.StreamChangeDetect.changes(evts)
      val name = freshStreamTable(s, "q_stream_changes_")
      val q = changes.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(
        col("key").as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("status"),
        col("previous_status"))
    }),

    // §2#7f streaming SCD2 (live dimension history — the one batch
    // operator whose streaming twin is obviously useful): per-key state =
    // only the CURRENT open version (O(keys), history lives in emissions);
    // append mode emits a version when it opens and re-emits it when it
    // closes — the stream-to-dim-merge feed. The gate collapses emissions
    // (closed supersedes open per (key, version)) and the result must
    // equal the batch ChangeDetect.scd2 replay exactly, across ≥5 REAL
    // micro-batch boundaries (streaming/StreamScd2.scala)
    // §2#53e STREAMING last-touch attribution — conversions credited as
    // they arrive, per-key state = only the touches inside the lookback
    // window (pruned as event time advances, O(window) per user; empty
    // state removed). Append mode emits one row per conversion in its
    // arrival micro-batch; over the ordered replay the emission set must
    // equal the batch Attribution.lastTouch frame hash-exact across ≥5
    // real micro-batches (streaming/StreamAttribution.scala)
    "q_stream_attribution" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(
          col("user_id").cast("long").as("key"), col("ts"),
          col("event_id").cast("long").as("event_id"),
          col("event_type").as("etype"),
          col("event_type").isin("click", "view").as("is_touch"),
          (col("event_type") === "purchase").as("is_conv")),
        Seq("ts", "event_id"), "q_stream_attribution")
      val evts = stream.as(org.apache.spark.sql.Encoders.product[
        graft.streaming.StreamAttribution.TouchStreamEvent])
      val att = graft.streaming.StreamAttribution.attributed(evts, 604800000000L)
      val name = freshStreamTable(s, "q_stream_attribution_")
      val q = att.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("conversion_id"), col("key").as("user_id"),
        col("conv_ts_us"), col("touch_id"), col("touch_ts_us"),
        col("touch_type"), col("age_us"), col("n_touches_window"))
    }),

    "q_stream_scd2" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(
          col("user_id").cast("long").as("key"), col("ts"),
          col("event_type").as("status"), col("event_id").cast("long").as("event_id")),
        Seq("ts", "event_id"), "q_stream_scd2")
      val evts = stream.as(org.apache.spark.sql.Encoders.product[
        graft.streaming.StreamChangeDetect.StatusEvent])
      val vers = graft.streaming.StreamScd2.versions(evts)
      val name = freshStreamTable(s, "q_stream_scd2_")
      val q = vers.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name)
        .groupBy(col("key"), col("version"))
        .agg(max(struct(col("valid_to").isNotNull.as("_closed"),
          col("status"), col("valid_from"), col("valid_to"),
          col("is_current"))).as("_m"))
        .select(col("key").as("user_id"), col("_m.status").as("status"),
          unix_micros(col("_m.valid_from")).as("valid_from_us"),
          unix_micros(col("_m.valid_to")).as("valid_to_us"),
          col("version"), col("_m.is_current").as("is_current"))
    }),

    // §2#8f the sessionization stream (S1) driver-gated through the REAL
    // session_window state-merge path: events streamed as a bounded file
    // source, StreamSessionize's complete-mode final table must equal the
    // batch gap-sessionization. Complete mode never evicts session state,
    // and gap-merge is order-independent, so stream-final == batch even
    // across micro-batches. session_window's end is last_event + gap; the
    // gate subtracts the gap to express end as the last event ts, matching
    // the batch rollup. Exactly-gap-length deltas would diverge (batch SQL
    // keeps the session open at delta == gap, session_window closes it) —
    // absent at nanosecond timestamp precision.
    "q_stream_sessions" -> ((s, dir) => withGateShuffle(s) {
      // multi-batch replay: session_window state MERGES across ≥6 real
      // micro-batch commits (complete mode never evicts, gap-merge is
      // order-independent), so stream-final must still equal batch
      val (rdir, stream) = orderedReplay(s,
        Tables.events(s, dir).select(col("user_id"), col("ts")),
        Seq("ts"), "q_stream_sessions")
      val sess = graft.streaming.StreamSessionize.sessions(
        stream, Seq("user_id"), "ts", gap = "30 minutes", watermark = "0 seconds")
      val name = freshStreamTable(s, "q_stream_sessions_")
      val q = sess.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(
        col("user_id"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        (unix_micros(col("session_end_ts")) - 1800000000L).as("session_end_us"),
        col("n_events"))
    }),

    // §2#8h the sessionization stream through APPEND mode — the
    // production emission path q_stream_sessions' complete-mode gate
    // never exercises: sessions FINALIZE when the event-time watermark
    // passes their end+gap and are emitted exactly once. Bounded-
    // deterministic via the q_stream_outages sentinel device: two
    // far-future FAKE-KEY events, each its own micro-batch — the first
    // drives the watermark past every real session's close, the second
    // guarantees a batch RUNS with that watermark under AvailableNow —
    // so the appended (finalized) session set provably equals the batch
    // gap-sessionization; the sentinel's own session never finalizes and
    // is filtered. Same oracle as q_stream_sessions.
    "q_stream_sessions_append" -> ((s, dir) => withGateShuffle(s) {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val (rdir, stream) = orderedReplay(s, ev, Seq("ts"),
        "q_stream_sessions_append")
      val t1 = mendUs + 7200L * 1000000L
      Seq(t1, t1 + 7200L * 1000000L).foreach { t =>
        graft.streaming.FileReplay.appendFile(
          s.range(1).select(lit(-1L).as("user_id"),
            expr(s"timestamp_micros(${t}L)").as("ts")), rdir)
      }
      val sess = graft.streaming.StreamSessionize.sessions(
        stream, Seq("user_id"), "ts", gap = "30 minutes",
        watermark = "0 seconds")
      val name = freshStreamTable(s, "q_stream_sessions_append_")
      val q = sess.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).filter(col("user_id") =!= lit(-1L)).select(
        col("user_id"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        (unix_micros(col("session_end_ts")) - 1800000000L).as("session_end_us"),
        col("n_events"))
    }),

    // §2#8g the SAME sessionization stream driver-gated ACROSS A
    // CHECKPOINT RESTART — the production driver-loss mode: phase 1 drains
    // only the first half of the ordered replay and stops; a NEW query
    // instance resumes from the SAME checkpoint over files that land
    // after the restart. The final complete-mode state must STILL equal
    // the batch oracle, proving session_window merge state round-trips
    // the checkpoint and the file source's commit log prevents
    // reprocessing (CheckpointRecoverySpec pins the other four stateful
    // operator classes' restart behavior; this puts one on the hash gate).
    "q_stream_restart" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, _) = orderedReplay(s,
        Tables.events(s, dir).select(col("user_id"), col("ts")),
        Seq("ts"), "q_stream_restart")
      val schema = s.read.parquet(rdir).schema
      val ckpt = rdir + "-ckpt"
      val stash = new java.io.File(rdir + "-held")
      stash.mkdirs()
      // hold back the replay's tail: those files "arrive" after the restart
      val files = new java.io.File(rdir).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .sortBy(_.lastModified())
      files.drop(files.length / 2).foreach { f =>
        require(f.renameTo(new java.io.File(stash, f.getName)), s"could not stash $f")
      }
      val name = freshStreamTable(s, "q_stream_restart_")
      def drain(phase: Int): Long = {
        val sess = graft.streaming.StreamSessionize.sessions(
          graft.streaming.FileReplay.stream(s, rdir, schema),
          Seq("user_id"), "ts", gap = "30 minutes", watermark = "0 seconds")
        val q = sess.writeStream.format("memory").queryName(s"${name}p$phase")
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); Option(q.lastProgress).map(_.batchId).getOrElse(-1L) }
        finally q.stop()
      }
      val b1 = drain(1)
      // rename preserves mtime, so the restored tail keeps its replay order
      stash.listFiles().foreach { f =>
        require(f.renameTo(new java.io.File(rdir, f.getName)), s"could not restore $f")
      }
      val b2 =
        try drain(2)
        finally {
          Seq(rdir, stash.getAbsolutePath, ckpt).foreach(d =>
            graft.streaming.FileReplay.deleteRecursively(new java.io.File(d)))
        }
      require(b1 >= 1 && b2 > b1 && b2 >= 4,
        s"restart gate did not resume the checkpoint batch sequence ($b1 -> $b2)")
      s.table(s"${name}p2").select(
        col("user_id"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        (unix_micros(col("session_end_ts")) - 1800000000L).as("session_end_us"),
        col("n_events"))
    }),

    // §2#25b the ingest-dedup stream (S6) driver-gated through the REAL
    // dropDuplicatesWithinWatermark state path: documents replayed as an
    // ingest-time-ordered multi-file stream, each row fingerprinted,
    // re-deliveries dropped in the state store — fingerprint state now
    // crosses ≥6 real micro-batch boundaries (every ingest_ts sits inside
    // the 1-minute watermark window, so nothing is evicted mid-replay and
    // cross-batch duplicates MUST be caught by carried state, not by
    // intra-batch dedup). WHICH duplicate row survives is arrival-order
    // dependent, so the gate projects to the surviving fingerprint SET —
    // exactly one row per distinct fingerprint, arrival-order independent.
    // Ingest time is synthesized from doc_id (documents carry no
    // timestamp; watermark EVICTION is exercised by the S6 soak spec).
    "q_stream_dedup" -> ((s, dir) => withGateShuffle(s) {
      // +1 day: doc_id 0 would land exactly on epoch 0 — the state
      // store's INITIAL watermark value — and be dropped as late
      val (rdir, stream) = orderedReplay(s,
        Tables.documents(s, dir).select(col("text"),
          expr("timestamp_micros(doc_id + 86400000000)").as("ingest_ts")),
        Seq("ingest_ts"), "q_stream_dedup")
      val deduped = graft.streaming.StreamDedup.exactDedup(
        stream, "text", "ingest_ts", watermarkDelay = "1 minute")
      val name = freshStreamTable(s, "q_stream_dedup_")
      val q = deduped
        .select(graft.functions.Text.fingerprint(col("text")).as("fingerprint"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(col("fingerprint"))
    }),

    // §2#25c the composed ingest PIPELINE driver-gated end to end: the
    // production curation chain — stateful exact dedup
    // (dropDuplicatesWithinWatermark) → scan-side quality-classifier
    // inference — as ONE streaming job, written through the REAL
    // FileStreamSink (exactly-once commit log) and read back through its
    // _spark_metadata, the first gate on the streaming FILE write path
    // (the other stream gates use memory sinks). WHICH duplicate survives
    // is arrival-order dependent, but the output is not: scoring runs on
    // the NORMALIZED text (the dedup key's preimage), so every
    // representative of a fingerprint scores identically and the
    // (fingerprint, score) set is deterministic — hash-gated against the
    // batch DISTINCT-normalized-text formulation.
    "q_stream_ingest" -> ((s, dir) => withGateShuffle(s) {
      val (rdir, stream) = orderedReplay(s,
        Tables.documents(s, dir).select(col("text"),
          expr("timestamp_micros(doc_id + 86400000000)").as("ingest_ts")),
        Seq("ingest_ts"), "q_stream_ingest")
      val deduped = graft.streaming.StreamDedup.exactDedup(
        stream, "text", "ingest_ts", watermarkDelay = "1 minute")
      val scoredStream = QualityClassifier.scored(
        deduped
          .withColumn("norm", graft.functions.Text.normalized(col("text")))
          .withColumn("fingerprint", md5(col("norm"))),
        "fingerprint", "norm",
        QualityClassifier.seededWeights(256, seed = 29L),
        scale = 0.05, bias = 0.0, seed = 29L)
      cleanupTmp("graft-ingest-")
      val outDir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-ingest-${System.nanoTime()}").getAbsolutePath
      val q = scoredStream.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", outDir + "-ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      // read back through the sink's commit log — gates the on-disk
      // layout, not just the plan (outDir is reaped on the next call)
      s.read.parquet(outDir)
        .select(col("fingerprint"), col("n_features"), col("sum_w"),
          col("logit"), col("pass"))
    }),

    // §2#14b the heartbeat-outage stream (S4) driver-gated through the REAL
    // flatMapGroupsWithState + EventTimeTimeout path — the last stateful-
    // emission path without end-to-end gate evidence. Emission on watermark
    // FINALIZATION is made bounded-deterministic with sentinels:
    //  - a START sentinel heartbeat at the monitoring-window start per
    //    entity, so leading gaps [mstart, first event] emerge from the same
    //    state machine as every other gap;
    //  - two far-future FAKE-KEY sentinels, each its own micro-batch: the
    //    first drives the watermark past mend + threshold, the second
    //    guarantees a batch RUNS with that watermark, so every silent
    //    entity's event-time timeout provably fires under AvailableNow
    //    (no reliance on a trailing no-data batch being scheduled).
    // The raw sink rows are outage INCREMENTS (StreamHeartbeat's contract);
    // the gate re-merges touching increments into whole outages
    // (mergeIncrements — exact-µs chain endpoints make this lossless),
    // clips the sentinel-driven open tail to mend, filters the fake key,
    // and must hash-equal the batch q_offline_gaps formulation.
    // Reference: int_offline_outages.sql:70's monitoring-window edge gaps.
    "q_stream_outages" -> ((s, dir) => withGateShuffle(s) {
      val thresholdS = 3600L
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast("long").as("key"), col("ts"))
      // one-row bounds lookup (driver-side parameters, not data)
      val b = ev.agg(
        min(unix_micros(col("ts"))).as("mstart"),
        max(unix_micros(col("ts"))).as("mend")).head()
      val (mstartUs, mendUs) = (b.getLong(0), b.getLong(1))
      val startSent = ev.select(col("key")).distinct()
        .select(col("key"), expr(s"timestamp_micros(${mstartUs}L)").as("ts"))
      val (rdir, stream) = orderedReplay(
        s, ev.unionByName(startSent), Seq("ts"), "q_stream_outages", chunks = 7)
      val t1 = mendUs + 2L * thresholdS * 1000000L
      val t2 = t1 + 2L * thresholdS * 1000000L
      Seq(t1, t2).foreach { t =>
        graft.streaming.FileReplay.appendFile(
          s.range(1).select(lit(-1L).as("key"),
            expr(s"timestamp_micros(${t}L)").as("ts")), rdir)
      }
      val hb = stream.as(
        org.apache.spark.sql.Encoders.product[graft.streaming.StreamHeartbeat.Heartbeat])
      val gaps = graft.streaming.StreamHeartbeat.gaps(hb, thresholdS)
      val name = freshStreamTable(s, "q_stream_outages_")
      val q = gaps.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      graft.streaming.StreamHeartbeat.mergeIncrements(
          s.table(name).filter(col("key") =!= lit(-1L)))
        .select(
          col("key").as("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          // an open tail runs to the sentinel-driven watermark; the
          // monitoring window ends at mend — clip, then re-apply the
          // threshold (an entity active within threshold of mend has no
          // trailing outage once clipped)
          least(unix_micros(col("to_ts")), lit(mendUs)).as("to_us"))
        .filter(col("from_us") < lit(mendUs))
        .withColumn("gap_seconds",
          (col("to_us") - col("from_us")) / lit(1000000.0))
        .filter(col("gap_seconds") > lit(3600.0))
    }),

    // §2#18b the daily-downtime stream (S5) driver-gated through its REAL
    // foreachBatch delta-sum write path: heartbeat gaps → per-batch
    // interval→day allocation → integer-µs parquet deltas → read-side
    // re-aggregation. Timeouts are disabled (watermark delay beyond the
    // stream horizon) so only CLOSED inter-heartbeat gaps are emitted —
    // exactly the batch q_uptime downtime leg's per-entity [first, last]
    // monitoring bounds — because an ongoing-tail increment would allocate
    // downtime past each entity's own horizon, which the batch formulation
    // (and the reference's fact_downtime_daily) never does; the
    // timeout/increment path is gated by q_stream_outages. Increments are
    // delta-summable by construction: long-µs per-batch sums are exact
    // under any batch boundary, proven here across ≥7 real micro-batches.
    "q_stream_uptime" -> ((s, dir) => withGateShuffle(s) {
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast("long").as("key"), col("ts"))
      val (rdir, stream) = orderedReplay(
        s, ev, Seq("ts"), "q_stream_uptime", chunks = 7)
      val hb = stream.as(
        org.apache.spark.sql.Encoders.product[graft.streaming.StreamHeartbeat.Heartbeat])
      val gaps = graft.streaming.StreamHeartbeat.gaps(
        hb, thresholdSeconds = 3600L, watermark = "3650 days")
      cleanupTmp("graft-uptime-deltas-")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-uptime-deltas-${System.nanoTime()}").getAbsolutePath
      val q = graft.streaming.StreamUptime.run(
        gaps, s"$base/deltas", s"$base/ckpt",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
        // $base/deltas backs the returned (lazy) frame — cleaned by the
        // NEXT invocation, same retention contract as freshStreamTable
      }
      graft.streaming.StreamUptime.readDailyDowntime(s, s"$base/deltas")
        .select(col("key").as("user_id"), col("date_id"), col("downtime_minutes"))
    }),

    // §2#10c the metric layer over a STREAMING window (S8) driver-gated:
    // the SAME SemanticModel declaration pattern as the batch
    // q_metric_layer, instantiated over an hourly window of a bounded
    // event stream in complete mode. Count/sum measures are associative
    // and the ratio metric is a post-aggregation projection over exact
    // (decimal/long) state, so stream-final == batch regardless of
    // micro-batch boundaries — "define the metric once" gated through the
    // real streaming stateful-agg path.
    "q_stream_metrics" -> ((s, dir) => withGateShuffle(s) {
      import graft.metrics._
      // multi-batch replay: count/decimal-sum measures are associative and
      // the ratio metric is a post-agg projection over exact state
      val (rdir, evts) = orderedReplay(s,
        Tables.events(s, dir)
          .select(col("ts"), col("event_id"), col("event_type"), col("value")),
        Seq("ts"), "q_stream_metrics")
      val model = SemanticModel(
        measures = Seq(
          Measure("n_ev", MeasureAgg.Count, col("event_id")),
          Measure("total_v", MeasureAgg.Sum, col("value").cast("decimal(18,2)"))),
        metrics = Seq(
          SimpleMetric("n_events", "n_ev"),
          SimpleMetric("total_value", "total_v"),
          RatioMetric("value_per_event", "total_value", "n_events")))
      val out = model.query(evts,
        Seq(window(col("ts"), "1 hour"), col("event_type")),
        Seq("n_events", "total_value", "value_per_event"))
      val name = freshStreamTable(s, "q_stream_metrics_")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      s.table(name).select(
        unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"),
        col("n_events"),
        col("total_value").cast("double").as("total_value"),
        col("value_per_event"))
    }),

    // §2#35b multimodal patch/frame feature extraction (stubbed encoder;
    // rows-only oracle — the plumbing is explode-to-patch-grain with
    // array<float> features feeding the Similarity operators). The gate
    // output projects the feature vector to scalar summaries (L2 norm /
    // sum) because the driver's pandas comparator can't hash array cells;
    // the raw-array path is exercised by MultimodalSpec + Similarity ops.
    "q_multimodal_patches" -> ((s, dir) =>
      Multimodal.extractPatchFeatures(
          Tables.documents(s, dir)
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload")
        .select(
          col("doc_id"), col("patch_idx").cast("long").as("patch_idx"),
          sqrt(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))).as("feat_l2"),
          aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("feat_sum"))),

    // §2#38 deterministic stratified sampling (hash-mod bucketing, pure
    // scan-side filter — the 100 TB sampling pattern; modulus bucketing here
    // so the oracle can replicate, xxhash64 bucketing in production)
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratified(
          Tables.events(s, dir), "event_type",
          bucket = pmod(col("event_id"), lit(100L)), buckets = 100,
          rates = Map("purchase" -> 50, "click" -> 20, "view" -> 5),
          defaultRate = 10)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sampled_value"))),

    // §2#39 intra-document repetition quality signal (dup-token ratio).
    // Token total from the native single-pass TokenStats kernel; only the
    // distinct count needs the interpreted array pass (naively sharing one
    // tokens() alias would inline the tokenization into both consumers —
    // interpreted projections get no CSE).
    "q_repetition" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          graft.plans.TextExpressions.tokenStats(col("text"), Nil)
            .getField("n_tokens").as("n_tokens"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_tokens") > 0,
            (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens").cast("double"))
            .otherwise(lit(0.0)))),

    // §2#39b the Gopher repetition-filter signal family (Rae et al. 2021,
    // arXiv:2112.11446 Table A1), token-grain: per doc the top-n-gram
    // coverage fraction for n=2,3,4 (count(most frequent n-gram)·n ÷
    // tokens, the Dolma/DataTrove formulation) and the DUPLICATE-5-gram
    // POSITIONAL coverage fraction — occurrences of any 5-gram appearing
    // ≥2× in the doc, their [pos, pos+5) intervals merged (the
    // gaps-islands core at token grain) so overlapping duplicates never
    // double-count. Scale shape: one explode per n with doc-local keys
    // (groupBy/window partitions are (doc_id, shingle) — bounded per doc,
    // no hot corpus-wide key), linear shuffle ≈ 4× corpus tokens; the
    // three subtrees are independent so their map stages schedule
    // concurrently (fusing them MEASURED 2× slower — see the gate body).
    // A quarter of the docs get a deterministically injected repeated
    // phrase (the q_redact seeding discipline) — the driver corpus's
    // random text almost never repeats an exact 5-gram, and a signal the
    // gate never exercises would pin nothing.
    "q_rep_signals" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4L)) === 0L,
          concat(col("text"),
            lit(" lorem ipsum dolor sit amet lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      val base = docs.select(col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      // grams shuffle as 8-byte xxhash64 longs, not ~30-byte strings (the
      // Dedup posting discipline): per-doc counts are key-identity-
      // invariant, so the oracle's string-grouped counts match exactly.
      // MEASURED DECISION (r15 interleaved A/B at sf10, SURVEY §6):
      // fusing the three families into ONE explode with n in the grouping
      // key — the r14 verdict's suggestion, tried as both a struct key and
      // a packed-long key — is 2× SLOWER (split 7.7-13.0 s vs fused
      // 15.5-23.3 s): the three topCover subtrees are independent, so
      // their 1/3-size map-side-combined shuffles schedule CONCURRENTLY
      // inside one job, while the fused form serializes 3× the key
      // cardinality through one hash-aggregate chain with an extra
      // aggregation stage. The three-pass form stays.
      def topCover(n: Int) =
        docs.select(col("doc_id"),
            explode(transform(Text.wordShinglesAll(col("text"), n),
              g => xxhash64(g))).as("sh"))
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg((max(col("c")) * n).as(s"_top$n"))
      val iw = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
      val prevMax = max(col("end"))
        .over(iw.rowsBetween(Window.unboundedPreceding, -1))
      val cover5 = docs.select(col("doc_id"),
          posexplode(transform(Text.wordShinglesAll(col("text"), 5),
            g => xxhash64(g))).as(Seq("pos", "sh")))
        .withColumn("c",
          count(lit(1)).over(Window.partitionBy(col("doc_id"), col("sh"))))
        .filter(col("c") >= 2)
        .select(col("doc_id"), col("pos").cast("long").as("start"),
          (col("pos") + 5).cast("long").as("end"))
        .withColumn("new_isl",
          when(prevMax.isNull || prevMax < col("start"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(iw))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("start")).as("s"), max(col("end")).as("e"))
        .groupBy(col("doc_id")).agg(sum(col("e") - col("s")).as("_cov5"))
      def frac(c: Column) =
        when(col("n_tokens") > 0,
          least(lit(1.0), c.cast("double") / col("n_tokens").cast("double")))
          .otherwise(lit(0.0))
      base
        .join(topCover(2), Seq("doc_id"), "left")
        .join(topCover(3), Seq("doc_id"), "left")
        .join(topCover(4), Seq("doc_id"), "left")
        .join(cover5, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          frac(coalesce(col("_top2"), lit(0L))).as("top2_frac"),
          frac(coalesce(col("_top3"), lit(0L))).as("top3_frac"),
          frac(coalesce(col("_top4"), lit(0L))).as("top4_frac"),
          frac(coalesce(col("_cov5"), lit(0L))).as("dup5_cover_frac"))
    }),

    // §2#40 PII-style redaction: digit runs ≥4 scrubbed (synthetic ids
    // injected deterministically so the pass has something to redact)
    "q_redact" -> ((s, dir) => {
      val injected = concat(
        col("text"), lit(" phone="), (lit(1000000L) + col("doc_id") * 7919L).cast("string"),
        lit(" id="), col("doc_id").cast("string"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.longNumberCount(injected).cast("long").as("n_long_numbers"),
        Text.redactLongNumbers(injected).as("redacted"))
    }),

    // §2#40b typed PII scan/redaction — the full privacy pass: typed
    // detectors (email → IPv4 → intl phone → residual long digit runs)
    // applied in a FIXED chain, each counted on the text as the previous
    // redactions left it (a phone's digits never double-count as a long
    // number). Seeded deterministically from doc_id so every type fires.
    "q_pii_scan" -> ((s, dir) => {
      val injected = concat(
        col("text"),
        lit(" contact=u"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" ip=10."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(expr("doc_id div 256"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(200L)).cast("string"),
        lit(" tel=+"), (lit(490000000L) + col("doc_id") * lit(37L)).cast("string"))
      val t1 = Text.redactPattern(injected, Text.EmailPattern, "[EMAIL]")
      val t2 = Text.redactPattern(t1, Text.Ipv4Pattern, "[IP]")
      val t3 = Text.redactPattern(t2, Text.PhonePattern, "[PHONE]")
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.patternCount(injected, Text.EmailPattern).as("n_emails"),
        Text.patternCount(t1, Text.Ipv4Pattern).as("n_ipv4"),
        Text.patternCount(t2, Text.PhonePattern).as("n_phones"),
        Text.longNumberCount(t3).cast("long").as("n_long_numbers"),
        Text.redactLongNumbers(t3).as("redacted"))
    }),

    // §2#41 data-quality assertion layer — marts.yml:10-31 schema tests
    // (not_null / unique / accepted_values / relationships) as production
    // operators emitting ONE violations report. Violations are seeded
    // deterministically (nulled segments, duplicated keys, a truncated
    // parent set) so every check type reports a non-zero count the oracle
    // reproduces.
    "q_quality_checks" -> ((s, dir) => {
      val customers = Tables.customer(s, dir)
      val seeded = customers.select(
          col("c_custkey"),
          when(col("c_custkey") % 97 =!= 0, col("c_mktsegment")).as("segment"),
          col("c_nationkey"))
        .unionAll(customers.filter(col("c_custkey") <= 5).select(
          col("c_custkey"), col("c_mktsegment").as("segment"), col("c_nationkey")))
      val parent = Tables.nation(s, dir).filter(col("n_nationkey") < 20)
      Checks.violations(seeded, Seq(
        Checks.NotNull("segment"),
        Checks.NotNull("c_custkey"),
        Checks.Unique(Seq("c_custkey")),
        Checks.AcceptedValues("segment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")),
        Checks.Relationships("c_nationkey", parent, "n_nationkey", "nation20")))
    }),

    // §2#43 benchmark decontamination: training docs sharing ≥ 3 distinct
    // 3-gram shingles with any "benchmark" doc (every 25th document UP TO
    // id 12500 stands in as the eval set — the corpus's seeded near-dups
    // guarantee real contamination hits). The id cap encodes the real-world
    // invariant that a benchmark suite is a FIXED artifact: an eval set
    // that grew as a fraction of the corpus made the shingle join
    // quadratic (measured 3× cost for 2× data at sf2); below sf0.25 every
    // doc id is under the cap, so driver-SF results are unchanged.
    // Benchmark postings broadcast: one pass over the corpus, no corpus
    // shuffle.
    "q_decontaminate" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      Contamination.flagContaminated(
        all.filter(col("doc_id") % 25 =!= 0 || col("doc_id") >= 12500L),
        "doc_id", "text",
        all.filter(col("doc_id") % 25 === 0 && col("doc_id") < 12500L),
        "doc_id", "text",
        n = 3, minOverlap = 3L, maxShingleDocFreq = 1000L)
    }),

    // §2#43b the same decontamination behind a Bloom prefilter on the
    // corpus side (the broadcast-bytes scale lever); exactness is the
    // CONTRACT — no false negatives, false positives die in the exact
    // join — so this shares q_decontaminate's oracle SQL verbatim, and the
    // gate proves the equality end to end. 2^17 bits ≈ 8% fpp here: small
    // enough that pruning is real, big enough that false positives occur
    // and must be eliminated.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      Contamination.flagContaminatedBloom(
        all.filter(col("doc_id") % 25 =!= 0 || col("doc_id") >= 12500L),
        "doc_id", "text",
        all.filter(col("doc_id") % 25 === 0 && col("doc_id") < 12500L),
        "doc_id", "text",
        n = 3, minOverlap = 3L, maxShingleDocFreq = 1000L,
        bloomBits = 1 << 17, bloomHashes = 3)
    }),

    // §2#42 sequence packing: documents → fixed token-budget chunks
    // (concat-then-chunk pretraining layout), computed per shard so the
    // running sum is one window per hash bucket — no global ordering.
    // Reported at chunk grain: docs per chunk and chunk token totals.
    "q_token_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      Packing.packChunks(docs, "doc_id", "n_tokens",
          budgetTokens = 512L, shardCol = pmod(col("doc_id"), lit(8L)))
        .groupBy(col("shard"), col("chunk_seq"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("chunk_offset")).as("chunk_start_offset"))
    }),

    // §2#42e doc-ATOMIC bin packing, next-fit-decreasing — the padding-
    // free layout next to q_token_packing's concat-then-chunk: when
    // training examples must not cross document boundaries, docs pack
    // WHOLE into fixed-budget bins (longest-first greedy, new bin when
    // the running fill cannot take the next doc; an over-budget doc sits
    // alone in its own bin). One shuffle on a corpus-derived shard key,
    // the sequential NFD fold runs inside `aggregate` over each bounded
    // shard's sorted items (a bin break depends on the running fill — not
    // window-expressible), portable md5 shard draw; the oracle replays
    // the fold as a per-shard lockstep recursive CTE
    "q_pack_nosplit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val shards = Layout.shardsFor(docs.count(), targetPerShard = 512L)
      Packing.packBinsNoSplit(docs, "doc_id", "len", budget = 4096L,
        shardCol = pmod(graft.sources.ZipfCorpus.u20(
            concat(lit("pk:"), col("doc_id").cast("string"))),
          lit(shards.toLong)))
    }),

    // §2#42c In-Context Pretraining layout (Shi et al. 2023,
    // arXiv:2310.10638): lay the corpus out so each training context
    // window holds RELATED documents instead of random ones — the paper's
    // reported gain over standard packing. The paper's kNN-graph greedy
    // path is a serial chain; the data-parallel restatement composes three
    // gated layers: the TWO-LEVEL quantizer (q_semdedup's replayable
    // trajectory, k = max(8, ⌈n/1024⌉) bounded fine cells) groups
    // mutually-similar docs, docs are ordered within their cell by
    // centroid proximity (prototypes first, ties to id), and the packer
    // cuts each cell's stream every 512 tokens — one window per BOUNDED
    // cell, a single shuffle on the cell key, no global ordering. The
    // oracle replays both Lloyd trajectories plus the windowed running sum.
    "q_context_order" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val k = math.max(8L, (emb.count() + 1023L) / 1024L).toInt
      val model = KMeans.twoLevelModel(emb, "vec_id", "embedding", k, iters = 2)
      val toks = Tables.documents(s, dir).select(
        col("doc_id").as("vec_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      val assigned = KMeans.assignTwoLevel(emb, "vec_id", "embedding", model)
        .join(toks, Seq("vec_id"))
      Packing.packChunksBy(assigned, "n_tokens", budgetTokens = 512L,
          shardCol = col("cell"), orderCols = Seq(col("dist2"), col("vec_id")))
        .select(col("vec_id"), col("ccell"), col("cell"), col("n_tokens"),
          col("chunk_offset"), col("chunk_seq"))
    }),

    // §2#42d INCREMENTAL ICP layout — the production mode of
    // q_context_order (the q_semdedup_incremental discipline): the
    // quantizer trains ONCE on the base corpus and persists; a new doc
    // batch (~20 %) is assigned into the EXISTING cells scan-side
    // (n_batch·2√k folds, zero shuffle) and packed AFTER each cell's
    // base stream — chunk offsets continue from the cell's base token
    // total, so already-written context windows never move. Output =
    // the batch increment only. Oracle replays the base-trained
    // trajectory and the batch's coarse→sub argmin chain.
    "q_context_order_inc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val batch = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
      val base = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val k = math.max(8L, (base.count() + 1023L) / 1024L).toInt
      val model = KMeans.twoLevelModel(base, "vec_id", "embedding", k, iters = 2)
      val toks = Tables.documents(s, dir).select(
        col("doc_id").as("vec_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      val baseTotals = KMeans.assignTwoLevel(base, "vec_id", "embedding", model)
        .join(toks, Seq("vec_id"))
        .groupBy(col("cell")).agg(sum(col("n_tokens")).as("_base_tok"))
      val batchAsg = KMeans.assignTwoLevel(batch, "vec_id", "embedding", model)
        .join(toks, Seq("vec_id"))
      Packing.packChunksBy(batchAsg, "n_tokens", budgetTokens = 512L,
          shardCol = col("cell"), orderCols = Seq(col("dist2"), col("vec_id")))
        .join(baseTotals, Seq("cell"), "left")
        .withColumn("_off", col("chunk_offset") + coalesce(col("_base_tok"), lit(0L)))
        .select(col("vec_id"), col("ccell"), col("cell"), col("n_tokens"),
          col("_off").as("chunk_offset"),
          expr("_off div 512").as("chunk_seq"))
    }),

    // §2#36b inverted index with capped postings: exact df per token, the
    // 50 smallest doc ids kept through bounded heaps (hot tokens never
    // sort their corpus-sized postings), truncation flagged
    "q_inverted_index" -> ((s, dir) =>
      Index.invertedIndex(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", maxPostings = 50)),

    // §2#36c BM25 ranked retrieval — the relevance stage over the inverted-
    // index representation: rational log-free idf (TfIdf's device), k1=6/5
    // b=3/4 folded into exact integer products, per-term scores quantized to
    // 2^-20 before the sum (order-free), top-10 per query through bounded
    // heaps. The query side broadcasts; only query-term postings ever flow.
    "q_bm25" -> ((s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      Ranking.bm25TopK(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", queries, "query_id", "qtext", k = 10)
    }),

    // §2#36d reciprocal-rank fusion — the hybrid-retrieval combiner: BM25
    // and the exact-integer TF-IDF scorer disagree by design (saturation +
    // length norm vs raw tf·idf), and RRF fuses their top-10s with integer
    // 2^30 div (60+rank) contributions. Fusion touches candidates only
    // (queries × k rows per side); hybridTopK tokenizes and folds the
    // corpus exactly ONCE for both scorers (localCheckpoint'ed tf — the
    // naive composition re-derives the fold 7×, spec-pinned).
    "q_rrf_fusion" -> ((s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Ranking.hybridTopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
    }),

    // §2#36e retrieval evaluation — MRR / AP / recall@k of the BM25 ranking
    // against rule-derived judgments (docs containing EVERY query token —
    // conjunctive containment, computable in both engines), all metrics in
    // floor-quantized exact integers. Closes the retrieval loop: rank →
    // fuse → EVALUATE. nDCG is deliberately absent (log2 discount is not
    // bit-portable); RR/AP/recall carry the ordering-quality signal.
    "q_retrieval_eval" -> ((s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // ONE materialized posting fold feeds both the ranking under
      // evaluation and the judgments: tf's grain IS the distinct
      // (doc, token) pair set, so conjunctive containment derives from it
      // without re-tokenizing the corpus (same reuse story as hybridTopK)
      val folds = Ranking.postingFolds(docs, "doc_id", "text",
        materialize = true)
      val ranking = Ranking.bm25TopKOn(folds, "doc_id",
        queries, "query_id", "qtext", k = 10)
      val qtok = queries.select(col("query_id"),
        explode(array_distinct(Text.tokens(col("qtext")))).as("token"))
      val qsize = qtok.groupBy(col("query_id")).agg(count(lit(1)).as("_qn"))
      val qrels = folds.tf
        .join(broadcast(qtok), "token")
        .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("_m"))
        .join(broadcast(qsize), "query_id")
        .where(col("_m") === col("_qn"))
        .select(col("query_id"), col("doc_id"))
      Ranking.evalRanking(ranking, qrels, "query_id", "doc_id")
    }),

    // §2#49b exact quantile curriculum phases WITHOUT a global sort:
    // thresholds from a bounded cell-table CDF (integer rank arithmetic),
    // assignment = scan-side count vs a broadcast threshold array
    "q_quantile_phase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").cast("long").as("n_tokens"))
      val thr = Stats.quantileThresholds(docs, "n_tokens",
        Seq((1, 4), (1, 2), (3, 4)))
      Stats.assignQuantileBucket(docs, "n_tokens", thr, "phase")
        .select(col("doc_id"), col("n_tokens"), col("phase"))
    }),

    // §2#26b TF-IDF top terms per doc (rational idf — bit-portable scores;
    // top-k through the custom TopKPerKey bounded-heap operator)
    "q_tfidf_terms" -> ((s, dir) =>
      TfIdf.topTerms(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 5)),

    // §2#29c segment-level boilerplate removal (C4-style line dedup):
    // hot segments (doc frequency > max(3, N/100), threshold computed
    // in-plan) removed from every doc, text reassembled in order
    "q_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", segWords = 3)),

    // §2#29h window-grain exact-substring duplicate marking (ExactSubstr
    // family): every 5-token sliding window, a span is duplicated when its
    // exact text occupies ≥2 (doc, position) slots corpus-wide — catches
    // copies at ARBITRARY offsets, where the aligned-segment C4 pass
    // (q_segment_dedup) only sees block-aligned repetition
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 5)),

    // §2#48b fastText-style linear quality-classifier inference: hashed
    // bag-of-n-grams (unigrams + bigrams) → int8-quantized weight vector
    // compiled into the plan → exact integer dot product, thresholded
    // logit (sigmoid-monotone, so no transcendental enters the gate).
    // Zero shuffle — a pure map over the corpus scan (plan spec-pinned).
    // Weights are a seeded stand-in artifact: training is offline, the
    // INFERENCE contract is what's gated.
    "q_quality_classifier" -> ((s, dir) =>
      QualityClassifier.scored(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text",
        QualityClassifier.seededWeights(256, seed = 29L),
        scale = 0.05, bias = 0.0, seed = 29L)),

    // §2#48d classifier EVALUATION over the corpus — bucketed ROC-AUC
    // (Mann–Whitney with average-rank ties at bucket grain, the MLlib
    // numBins device) + threshold confusion metrics, measuring the learned
    // classifier against the rule filter's labels (the distillation check
    // a production quality model ships with). One corpus scan computes
    // score AND label; the rank statistic aggregates a bounded bucket
    // table. Every rank is a multiple of 0.5 < 2^52 ⇒ exact doubles, one
    // rounding step (the final division) — hash-exact cross-engine.
    "q_classifier_eval" -> ((s, dir) => {
      val w = QualityClassifier.seededWeights(256, seed = 29L)
      val st = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val sig = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .select(col("doc_id"),
          st.as("_st"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"),
          size(QualityClassifier.features(col("text"))).cast("long").as("n_features"),
          QualityClassifier.weightSum(col("text"), w, seed = 29L).as("sum_w"))
        .select(col("doc_id"), col("n_features"), col("sum_w"),
          (!(col("_st.n_tokens") < 32 ||
            (col("_st.n_tokens") - col("n_distinct")).cast("double")
              > lit(0.6) * col("_st.n_tokens").cast("double") ||
            col("_st.stopword_cnt").cast("double")
              < lit(0.03) * col("_st.n_tokens").cast("double"))).as("label"))
      Eval.binaryMetrics(sig,
        bucket = floor(col("sum_w").cast("double") * lit(16.0)
          / greatest(col("n_features"), lit(1L)).cast("double")).cast("long"),
        label = col("label"),
        predicted = col("sum_w") > 0)
    }),

    // §2#48b segment-grain quality classification — the learned filter at
    // the grain where production boilerplate removal operates: every
    // aligned 8-word segment (WordSegments kernel) is scored by the SAME
    // classifier artifact as q_quality_classifier, and the doc decision
    // aggregates segments with EXACT integer pooling (total feature-weight
    // sum over total features — long sums, one IEEE divide, association-
    // order-free) plus the worst-segment logit (min over identically-
    // computed doubles, order-free) and the failing-segment count. Scan +
    // one doc-grain agg; the weight vector rides the plan as before.
    "q_segment_classify" -> ((s, dir) => {
      val segs = Tables.documents(s, dir).select(
        col("doc_id"),
        posexplode(graft.plans.TextExpressions.wordSegments(col("text"), 8))
          .as(Seq("seg_idx", "seg")))
      val pooled = lit(0.0) + lit(0.05) *
        (col("_sw").cast("double") /
          greatest(col("_nf"), lit(1L)).cast("double"))
      QualityClassifier.scored(segs, "doc_id", "seg",
          QualityClassifier.seededWeights(256, seed = 29L),
          scale = 0.05, bias = 0.0, seed = 29L)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("pass"), 0L).otherwise(1L)).as("n_fail"),
          min(col("logit")).as("worst_logit"),
          sum(col("sum_w")).as("_sw"),
          sum(col("n_features")).as("_nf"))
        .select(col("doc_id"), col("n_segs"), col("n_fail"),
          col("worst_logit"), pooled.as("pooled_logit"),
          (pooled > lit(0.0)).as("doc_pass"))
    }),

    // §2#29i span-grain exact-substring duplicate REMOVAL (ExactSubstr's
    // production endpoint): duplicated 5-token windows (non-first
    // occurrence corpus-wide) merged into maximal spans and cut, survivors
    // reassembled — marking (q_dup_spans) is the signal, this is the knife
    "q_dup_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 5)),

    // §2#29j VARIABLE-LENGTH maximal duplicated spans (Lee et al. 2022
    // ExactSubstr semantics): every maximal run of token positions covered
    // by a corpus-duplicated substring of length ≥ 5, one row per span
    // with its actual length — the L-window coverage theorem (scaladoc on
    // Dedup.maximalDuplicateSpans, brute-force-proven in
    // MaximalDuplicateSpansSpec) makes this computable without a suffix
    // array, at the linear posting cost of the fixed-window family
    "q_dup_spans_var" -> ((s, dir) =>
      Dedup.maximalDuplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", minLen = 5)),

    // §2#29g segment dedup on the Zipf corpus: the planted 8-word
    // boilerplate header (25 % of docs, aligned to two 4-word segments)
    // is exactly the C4-style hot-segment target; zipf body segments stay
    // under the corpus-relative threshold and survive
    "q_segment_dedup_zipf" -> ((s, dir) =>
      Dedup.segmentDedup(
        graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
        "doc_id", "text", segWords = 4)),

    // §2#42b overlapping sliding-window chunking (RAG/embedding layout —
    // the other chunking discipline next to q_token_packing's concat-then-
    // chunk): zero-shuffle scan-side generator; bounded to a 5 % doc slice
    // so the gate output stays row-comparable at every SF.
    "q_chunk_overlap" -> ((s, dir) =>
      Packing.chunkSliding(
        Tables.documents(s, dir)
          .where(pmod(col("doc_id"), lit(20L)) === 0L)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", window = 6, stride = 3)),

    // §2#50 per-cluster embedding centroids (SemDeDup-style curation /
    // IVF cell refresh): posexplode → ONE map-side-combined aggregation;
    // components quantized to 2^-40 so sums are association-order-free —
    // centroids hash-match the oracle bit-for-bit. Flat (label, pos) grain
    // for the gate; Pooling.meanPool assembles the vectors.
    "q_mean_pool" -> ((s, dir) =>
      Pooling.meanComponents(
          Tables.embeddings(s, dir).select(
            col("label").cast("long").as("label"), col("embedding")),
          Seq("label"), "embedding")
        .select(col("label"), col("pos").cast("long").as("pos"),
          col("n_vecs"), col("centroid_val"))),

    // §2#51 distance-to-centroid outlier signal (the SemDeDup prune
    // decision): centroids broadcast, distance = SEQUENTIAL zip_with fold
    // scan-side — zero corpus shuffle, bit-exact across engines.
    "q_embed_outliers" -> ((s, dir) =>
      Pooling.distanceToCentroid(
          Tables.embeddings(s, dir).select(
            col("vec_id"), col("label").cast("long").as("label"), col("embedding")),
          Seq("label"), "embedding")
        .select(col("vec_id"), col("label"), col("dist_to_centroid"))),

    // §2#49 dataset-card corpus statistics: the per-(source, lang) rollup a
    // curated corpus publishes — doc/token/char totals, distinct-token-mass
    // ratio bounds. One map-side-combined pass over scan-side signals.
    "q_corpus_stats" -> ((s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          stats.getField("n_tokens").as("n_tokens"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_distinct")).as("total_distinct"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    }),

    // §2#48 composite quality-filter decision (Gopher-rules style): text
    // signals → auditable keep/drop with violated-rule names. Pure
    // scan-side projection; the per-doc verdicts AND the per-reason report
    // are both oracle-checked (report via the deterministic reasons array).
    "q_quality_filter" -> ((s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val signals = Tables.documents(s, dir)
        .select(col("doc_id"), stats.as("_st"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .select(col("doc_id"),
          col("_st.n_tokens").as("n_tokens"),
          col("_st.stopword_cnt").as("stopword_cnt"),
          col("n_distinct"))
      // ratio thresholds multiplied out (x/n > t ⇔ x > t·n): no division,
      // so the empty-document edge can't hit NaN-comparison divergence
      // between engines (DuckDB orders NaN greatest, Spark compares false)
      QualityFilter.decide(signals, Seq(
          "too_short" -> (col("n_tokens") < 32),
          "too_repetitive" ->
            ((col("n_tokens") - col("n_distinct")).cast("double")
              > lit(0.6) * col("n_tokens").cast("double")),
          "low_stopword" ->
            (col("stopword_cnt").cast("double")
              < lit(0.03) * col("n_tokens").cast("double"))))
        // array serialized for the hash gate (same convention as q_span_enrich)
        .select(col("doc_id"), col("keep"),
          array_join(col("reasons"), ",").as("reasons"))
    }),

    // §2#45 n-gram LM quality scoring (the CCNet/KenLM-style fluency
    // filter): bigram model trained on the corpus itself, each doc scored
    // by add-one-smoothed mean/min bigram probability. Probabilities are
    // binary-quantized to 2^-40 multiples so per-doc sums are
    // association-order-free → the whole score hash-matches DuckDB.
    "q_ngram_lm" -> ((s, dir) =>
      NgramLM.selfScoreBigram(Tables.documents(s, dir), "doc_id", "text")),

    // §2#45c CCNet-style perplexity bucketing (Wenzek et al. 2020):
    // LM-score every doc, cut the corpus into head/middle/tail thirds at
    // exact rational quantiles of the score, assign each doc its bucket
    // scan-side — the chain COMPOSES two gated operators (selfScoreBigram
    // + quantileThresholds/assignQuantileBucket); bucket 0 = lowest
    // avg_prob = highest perplexity = the tail CCNet drops first
    "q_ppl_bucket" -> ((s, dir) => {
      val scored = NgramLM
        .selfScoreBigram(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("avg_prob"))
      val thr = Stats.quantileThresholds(scored, "avg_prob", Seq((1, 3), (2, 3)))
      Stats.assignQuantileBucket(scored, "avg_prob", thr, "ppl_bucket")
        .select(col("doc_id"), col("avg_prob"), col("ppl_bucket"))
    }),

    // §2#46 target-mixture downsampling (DoReMi-style static domain
    // weights): per-class rate min(1, budget·w/n), keep decision from a
    // deterministic engine-portable FnvMix uniform — rates broadcast, the
    // corpus is never shuffled. Report: achieved per-domain counts plus an
    // id checksum proving the exact row selection.
    // §2#36f distributed BPE tokenizer TRAINING: one corpus scan builds
    // the word-count vocab; every merge round runs on the VOCAB table
    // (corpus never rescanned — the classic trainer trick) with a 1-row
    // parameter collect per round. Merge = one literal sentinel-delimited
    // replace (left-to-right non-overlap = BPE greedy semantics = SQL
    // replace semantics), so the full 6-round trajectory hash-matches.
    "q_bpe_train" -> ((s, dir) =>
      Bpe.mergeTable(s, Bpe.train(Tables.documents(s, dir), "text", m = 6))),

    // §2#36g the trained tokenizer APPLIED: segmentation on the word vocab
    // (per-word cost, weighted by count), global top-40 subwords.
    // ONE checkpointed vocab feeds training AND application (r17: the
    // corpus scan + vocab groupBy was paid twice)
    "q_bpe_tokenize" -> ((s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      Bpe.subwordCountsOnWords(vocab, Bpe.trainOnWords(vocab, m = 6), k = 40)
    }),

    // §2#36r the EXACT GPT-2 pre-tokenizer pinned directly at token
    // grain: every (doc, position, pre-token) for a deterministic doc
    // slice whose text is augmented with an adversarial suffix covering
    // every scanner rule — contractions (real/fake/uppercase), tabs and
    // NBSP inside words, multi-space runs, trailing whitespace, Nd/Nl/No
    // numerics, a supplementary-plane letter. The corpus-wide pin is the
    // byte-BPE family downstream (any pre-token drift moves those
    // hashes); this row pins exact token CONTENT against the
    // window-function oracle replay of the scanner rules
    "q_gpt2_pretok" -> ((s, dir) =>
      Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(53L)) === 0L)
        .select(col("doc_id"),
          concat(col("text"), lit(Gpt2AdversarialSuffix)).as("text"))
        .select(col("doc_id"),
          posexplode(Bpe.pretokens(col("text"))).as(Seq("wpos", "word")))
        .select(col("doc_id"), (col("wpos") + 1).cast("long").as("wpos"),
          col("word"))),

    // §2#36k BYTE-level BPE training (the GPT-2/tiktoken shape): the
    // EXACT GPT-2 pre-tokenizer (native scanner kernel) chunks raw text,
    // the alphabet is UTF-8 BYTES as hex symbols (any input tokenizes,
    // no unknown symbol), then the same vocab-table merge discipline —
    // corpus scanned once, each round one vocab-sized pair count + a
    // 1-row argmax + one literal replace
    "q_bpe_bytes_train" -> ((s, dir) =>
      Bpe.mergeTable(s, Bpe.trainBytes(Tables.documents(s, dir), "text", m = 8))),

    // §2#36l the byte-level tokenizer APPLIED: segmentation on the
    // pre-token vocab, global top-40 subword byte sequences (hex)
    "q_bpe_bytes_tokenize" -> ((s, dir) => {
      val vocab = Bpe.byteVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      Bpe.byteSubwordCountsOnWords(vocab,
        Bpe.trainBytesOnWords(vocab, m = 8), k = 40)
    }),

    // §2#36m doc-grain byte tokenization — what packing consumes at the
    // GPT-2 grain: each DISTINCT pre-token segments once (vocab-table
    // trick), documents re-assemble into ordered hex-token sequences
    "q_bpe_bytes_doc_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the training vocab IS the distinct pre-token set the doc-grain
      // pass needs — build it once, train on it, segment against it
      val vocab = Bpe.byteVocab(docs, "text").localCheckpoint(true)
      Bpe.docByteTokensOnVocab(docs, "doc_id", "text",
        Bpe.trainBytesOnWords(vocab, m = 8), vocab)
    }),

    // §2#36h unigram-LM tokenizer TRAINING (SentencePiece family, Kudo
    // 2018) — the other standard subword vocabulary next to BPE, as
    // hard-EM: seed = all ≤4-char substrings of the word vocab, two
    // rounds of (Viterbi-segment the vocab under integer ilog2q scores →
    // usage counts → prune to top-48 + all single chars), final scores.
    // The Bpe discipline: corpus scanned once, every round runs on the
    // vocab table; the DP is a per-row fold; the WHOLE trajectory —
    // scores, segmentations, pruning — replays in DuckDB recursive CTEs
    "q_unigram_train" -> ((s, dir) =>
      Unigram.trainArtifact(Tables.documents(s, dir), "text",
        rounds = 2, keepK = 48)),

    // §2#36i applying the trained unigram artifact: Viterbi-segment the
    // corpus vocab under the final piece scores, emit the top-40 subword
    // corpus frequencies (the q_bpe_tokenize twin — same output shape,
    // different learned vocabulary)
    "q_unigram_tokenize" -> ((s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      val art = Unigram.trainArtifactOnVocab(vocab, rounds = 2, keepK = 48)
      Unigram.subwordCountsOnVocab(vocab, art, k = 40)
    }),

    // §2#36j doc-grain tokenization under the trained unigram artifact —
    // what packing consumes: every eligible word Viterbi-segments ONCE
    // (vocab-table trick), pieces map to dense ids, documents re-assemble
    // into their ordered token-id sequences (comma-joined — a string
    // sequence hashes engine-portably)
    "q_unigram_doc_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val art = Unigram.trainArtifact(docs, "text", rounds = 2, keepK = 48)
        .localCheckpoint(true)
      Unigram.docTokenIds(docs, "doc_id", "text", art)
    }),

    // §2#36n WordPiece TRAINING (the BERT vocabulary, Schuster &
    // Nakajima 2012 / Devlin et al. 2018) — the third subword family:
    // merges maximize the quantized-likelihood ratio ilog2q(pcnt) −
    // ilog2q(cnt_a) − ilog2q(cnt_b) (NOT the raw pair count — BPE's one
    // differing rule), non-initial symbols carry the ## continuation
    // prefix. The Bpe vocab-table discipline: corpus scanned once, each
    // round one vocab-sized pair count + symbol count + 1-row argmax +
    // literal replace
    "q_wordpiece_train" -> ((s, dir) =>
      WordPiece.mergeTable(s,
        WordPiece.train(Tables.documents(s, dir), "text", m = 8))),

    // §2#36o the WordPiece tokenizer APPLIED — greedy longest-match-first
    // against the BOUNDED final vocabulary (alphabet + one symbol per
    // merge; no merge replay): each DISTINCT word encodes once through
    // the native whole-stage-codegen kernel (plans/TextExpressions.scala:
    // WordPieceEncode — the vocab rides as a reference object, never a
    // join), unmatchable words collapse to one [UNK]; top-40 subwords
    "q_wordpiece_tokenize" -> ((s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      val merges = WordPiece.trainOnWords(vocab, m = 8)
      WordPiece.subwordCountsOnWords(vocab,
        WordPiece.finalVocabOnWords(vocab, merges), k = 40)
    }),

    // §2#36p doc-grain WordPiece tokenization — the packing consumable
    // at the BERT grain: greedy pieces map to dense ids (rank over the
    // bounded vocab), documents re-assemble into ordered id sequences
    "q_wordpiece_doc_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
      val merges = WordPiece.trainOnWords(vocab, m = 8)
      WordPiece.docTokenIds(docs, "doc_id", "text",
        WordPiece.finalVocabOnWords(vocab, merges))
    }),

    // §2#36q the tokenizer-family COMPARISON row — the "which tokenizer"
    // question a pipeline answers before committing token budgets: all
    // four families train on the corpus and report exact integer totals
    // (unit occurrences, count-weighted chars, tokens) over their own
    // eligible universe (word-grain for char-BPE/unigram/WordPiece;
    // raw pre-tokens for byte-BPE — its n_chars is its own basis).
    // Pure integers, no division — consumers compute chars/token
    "q_tokenizer_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def row(name: String, df: DataFrame) =
        df.select(lit(name).as("tokenizer"), col("n_units"),
          col("n_chars"), col("n_tokens"))
      // r17: ONE word vocab + ONE pre-token vocab feed all four families
      // (this gate used to pay 9 corpus scans), and the four trainings —
      // independent driver-side job loops of small jobs — run from a
      // thread pool so their jobs backfill the cluster instead of
      // serializing (guide §2.6). Each training's trajectory, and so the
      // four output rows, are unchanged.
      val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
      val bvocab = Bpe.byteVocab(docs, "text").localCheckpoint(true)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      try {
        val fChar = Future(Bpe.trainOnWords(vocab, m = 6))
        val fBytes = Future(Bpe.trainBytesOnWords(bvocab, m = 8))
        val fUni = Future(
          Unigram.trainArtifactOnVocab(vocab, rounds = 2, keepK = 48))
        val fWp = Future(WordPiece.trainOnWords(vocab, m = 8))
        // one sequenced await with a generous finite bound: the first
        // failed training propagates immediately (not after every earlier
        // await drains), and a hung training fails the gate instead of
        // blocking it forever on a non-daemon pool (r17 advice); the
        // typed awaits below are instant once the sequence resolves
        val bound = Duration(1, java.util.concurrent.TimeUnit.HOURS)
        Await.result(
          Future.sequence(Seq[Future[Unit]](
            fChar.map(_ => ()), fBytes.map(_ => ()),
            fUni.map(_ => ()), fWp.map(_ => ()))), bound)
        val charMerges = Await.result(fChar, bound)
        val byteMerges = Await.result(fBytes, bound)
        val uniArtifact = Await.result(fUni, bound)
        val wpMerges = Await.result(fWp, bound)
        row("bpe_char", Bpe.charTokenTotalsOnWords(vocab, charMerges))
          .unionByName(row("bpe_bytes",
            Bpe.byteTokenTotalsOnWords(bvocab, byteMerges)))
          .unionByName(row("unigram",
            Unigram.tokenTotalsOnVocab(vocab, uniArtifact)))
          .unionByName(row("wordpiece",
            WordPiece.tokenTotalsOnWords(vocab,
              WordPiece.finalVocabOnWords(vocab, wpMerges))))
      } finally pool.shutdown()
    }),

    // §2#46d DSIR importance selection: hashed-unigram target (lang=en)
    // vs raw models trained IN-PLAN (one map-side-combined bucket count,
    // exchange ≤ B rows/partition), B-entry ratio table compiled into the
    // scoring scan as a literal (zero-join scoring), global top-50 via
    // TakeOrdered. Ratios quantized to the 2^-20 grid → order-free sums,
    // hash-exact incl. the trained model (the oracle re-derives it in SQL).
    "q_dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = Dsir.importanceWeights(docs, "text", col("lang") === "en",
        buckets = 4096, seed = 41L)
      Dsir.select(docs, "doc_id", "text", w, seed = 41L, k = 50)
    }),

    "q_mixture_sample" -> ((s, dir) =>
      Sampling.toMixture(Tables.documents(s, dir), "doc_id", "source",
          weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.15,
            "src3" -> 0.1, "src4" -> 0.05),
          budget = 150L, seed = 7L)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"))),

    // §2#46c temperature-balanced downsampling (α = 1/2 via IEEE-exact
    // sqrt): language shares flatten from ∝ n to ∝ √n — the multilingual
    // balancing move — with the smallest language kept whole. Scan-side
    // FnvMix keep decision; the corpus never shuffles. n_orig rides along
    // so the flattening is visible in the gate output.
    "q_temperature_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val orig = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      Sampling.temperatureBalance(docs, "doc_id", "lang", seed = 13L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .join(orig, "lang")
        .select(col("lang"), col("n_orig"), col("n_kept"), col("id_sum"))
    }),

    // §2#49c rolling z-score anomaly detection per entity (telemetry
    // monitoring): trailing-window mean/σ from exact quantized sums —
    // engine-exact variance in one window pass
    "q_rolling_anomaly" -> ((s, dir) =>
      Stats.rollingAnomaly(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value")
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value"), col("z_score"), col("is_anomaly"))),

    // §2#49d point-in-time rolling feature engineering: per-user 1 h / 24 h
    // trailing count + decimal-exact value sum as of each event's own
    // timestamp — leakage-free by construction (RANGE frames never look
    // ahead), both windows stacked on ONE (key, ts) sort, no second
    // exchange (operators/Features.scala)
    "q_rolling_features" -> ((s, dir) =>
      Features.rolling(
          Tables.events(s, dir).select(
            col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("value")),
          Seq("user_id"), col("ts_us"), col("value"),
          Seq(Features.RollingWindow("1h", 3600000000L),
            Features.RollingWindow("24h", 86400000000L)))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_1h"), col("v_1h"), col("n_24h"), col("v_24h"))),

    // §2#49e incremental aggregate-state maintenance: facts fold ONCE into
    // per-(type, day) monoid state (count / decimal sum / min / max / HLL
    // registers); month metrics derive entirely from merged state — the
    // materialized-rollup pattern that never re-scans facts. The oracle
    // exploits register-merge associativity: max-merged daily registers ==
    // registers built at month grain directly (operators/AggState.scala)
    "q_agg_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val scalars = AggState.dailyScalarState(
        ev, Seq("event_type"), col("ts"), col("value"))
      val regs = AggState.dailyRegisterState(
        ev, Seq("event_type"), col("ts"), col("user_id"))
      AggState.mergeToGrain(scalars, regs, Seq("event_type"),
          d => to_date(date_trunc("month", d)))
        .select(col("event_type"), col("grain").as("month"),
          col("n_events"), col("total_value"),
          col("min_value"), col("max_value"),
          col("approx_distinct").as("approx_users"))
    }),

    // §2#37i sketch-estimated equi-join cardinality (count-min inner
    // product, Cormode & Muthukrishnan 2005 §4.2): |purchases ⋈ clicks on
    // user| sized from two depth×width counter tables that build in each
    // side's own scan — the optimizer-support op that prices a 100 TB join
    // before running it. est ≥ true by construction (collisions only add)
    "q_join_size_sketch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pur = ev.filter(col("event_type") === "purchase").select(col("user_id"))
      val clk = ev.filter(col("event_type") === "click").select(col("user_id"))
      val est = Sketch.countMinJoinSize(
        Sketch.countMinCounters(pur, Nil, col("user_id"),
          depth = 4, width = 1024, seed = 23L),
        Sketch.countMinCounters(clk, Nil, col("user_id"),
          depth = 4, width = 1024, seed = 23L))
      val exact = pur.groupBy(col("user_id")).agg(count(lit(1)).as("na"))
        .join(clk.groupBy(col("user_id")).agg(count(lit(1)).as("nb")), "user_id")
        .agg(sum(col("na") * col("nb")).as("true_pairs"))
      est.crossJoin(exact).select(
        col("est_pairs"), col("true_pairs"),
        (col("est_pairs") - col("true_pairs")).as("overcount"))
    }),

    // §2#37l join-strategy ADVICE consuming the join-size sketches: three
    // scenarios through Skew.adviseJoin — a dimension-sized side
    // (broadcast), two fact sides with no hot key (shuffle), and a planted
    // hot key taking 25% of one side (salt, with the bucket count sized
    // from the sketch's hot-key upper bound). Every threshold is an
    // integer comparison over sketch-derived numbers, so the whole
    // decision table hash-matches the DuckDB replay
    // (operators/Skew.scala:adviseJoin)
    "q_join_advise" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def cm(df: DataFrame, v: Column) =
        Sketch.countMinCounters(df, Nil, v, depth = 4, width = 4096, seed = 23L)
      val pur = cm(ev.filter(col("event_type") === "purchase"), col("user_id"))
      val clk = cm(ev.filter(col("event_type") === "click"), col("user_id"))
      val dim = cm(Tables.nation(s, dir), col("n_nationkey"))
      val hotv = cm(ev.filter(col("event_type") === "view"),
        when(pmod(col("user_id"), lit(4L)) < 1L, lit(-1L))
          .otherwise(col("user_id")))
      def one(name: String, a: DataFrame, b: DataFrame) =
        Skew.adviseJoin(a, b, broadcastMaxRows = 1000L, hotKeyThreshold = 500L)
          .select(lit(name).as("scenario"), col("est_pairs"), col("n_rows_a"),
            col("n_rows_b"), col("hot_a"), col("hot_b"), col("decision"),
            col("broadcast_side"), col("salt_buckets"))
      one("dim_join", pur, dim)
        .unionByName(one("fact_fact", pur, clk))
        .unionByName(one("skewed", hotv, clk))
    }),

    // §2#24f the advisor's decisions EXECUTED (operators/Skew.scala:
    // executeAdvised): the same three scenarios run through the advised
    // physical strategy — dim join takes the broadcast hint, the balanced
    // fact×fact takes a sort-merge shuffle, the planted hot key takes the
    // salted join with the sketch-derived bucket count. The gate digests
    // each joined result (count + column checksums) and the oracle is the
    // PLAIN SQL join — content identity is exactly what the three
    // strategies must preserve. Spec pins the three plan shapes.
    "q_join_advise_exec" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purDim = ev.filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(25L)).as("k"), col("event_id").as("a_id"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), col("event_id").as("a_id"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("k"), col("event_id").as("b_id"))
      val dim = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          (col("n_regionkey").cast("long") * 1000L +
            col("n_nationkey").cast("long")).as("b_id"))
      val hotv = ev.filter(col("event_type") === "view")
        .select(when(pmod(col("user_id"), lit(4L)) < 1L, lit(-1L))
          .otherwise(col("user_id")).as("k"), col("event_id").as("a_id"))
      def digest(name: String, a: DataFrame, b: DataFrame) =
        Skew.executeAdvised(a, b, "k", "a_id", "b_id",
            broadcastMaxRows = 1000L, hotKeyThreshold = 500L)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum(col("a_id")), lit(0L)).cast("long").as("sum_a_id"),
            coalesce(sum(col("b_id")), lit(0L)).cast("long").as("sum_b_id"),
            coalesce(sum(col("k")), lit(0L)).cast("long").as("sum_k"))
          .select(lit(name).as("scenario"), col("n_pairs"), col("sum_a_id"),
            col("sum_b_id"), col("sum_k"))
      digest("dim_join", purDim, dim)
        .unionByName(digest("fact_fact", pur, clk))
        .unionByName(digest("skewed", hotv, clk))
    }),

    // §2#54 spatial neighbor join by grid-cell blocking: all point pairs
    // within 0.25° (flat-grid µdeg metric, exact int64 — no trig), cell =
    // radius so the 3×3 neighborhood is a complete cover. The oracle is the
    // EXHAUSTIVE cross-product answer, so the gate proves the cover: a pair
    // the blocking missed would hash-mismatch (operators/Geo.scala)
    "q_geo_join" -> ((s, dir) =>
      Geo.neighborPairs(geoPoints(s, dir), "c_custkey",
          cellUdeg = 250000L, radiusUdeg = 250000L)
        .select(col("id_a"), col("id_b"), col("d2"))),

    // §2#47d deterministic multi-epoch training-order shuffle — the
    // data-loader layout contract (WebDataset/tf.data shard-shuffle
    // discipline as a query): every (doc, epoch) gets a (shard, pos)
    // placement, each epoch an independent pseudorandom permutation, the
    // whole assignment a pure function of (id, epoch, seed) — resumable
    // from any step and regenerable on any cluster size with zero
    // coordination. Portable md5 draws; one window per (epoch, shard),
    // with the shard count DERIVED from the corpus (Layout.shardsFor —
    // ceil(n/target), floored at 8) so each window sorts a bounded
    // ~target-row slice at any corpus size instead of an O(N/8) global-
    // sort shape; no global ordering (operators/Layout.scala; permutation,
    // epoch-independence and shard-rule properties spec-pinned). The
    // oracle derives the identical shard count from its own count(*).
    "q_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      Layout.epochShuffle(docs, "doc_id", epochs = 3,
        shards = Layout.shardsFor(docs.count()))
    }),

    // §2#54b z-order (Morton) layout: bit-interleaved cell keys + the
    // range-bucket assignment a layout write would partition by — the
    // file-skipping device (Delta/Iceberg ZORDER BY) as pure int64
    // arithmetic, zero shuffle (operators/Layout.scala; the bbox-tightness
    // claim vs a single-column layout is spec-proven)
    "q_zorder" -> ((s, dir) => {
      val p = geoPoints(s, dir)
      val (y, x) = Geo.cellOf(col("lat_udeg"), col("lon_udeg"), 10000L)
      p.select(col("c_custkey"), x.as("x_cell"), y.as("y_cell"),
          Layout.zValue(x, y).as("zval"))
        .withColumn("bucket", shiftright(col("zval"), 15))
    }),

    // §2#55 fuzzy entity resolution (record linkage): misspelled names
    // (one deterministic char deletion on 50% of customers) matched back to
    // the canonical dim by DELETION-NEIGHBORHOOD blocking (FastSS/SymSpell
    // family — prefix blocking degenerates to O(N) blocks on shared-prefix
    // names), levenshtein ≤ 1 verify. Oracle = exhaustive cross product, so
    // the gate proves blocking completeness
    // (operators/EntityResolution.scala)
    "q_fuzzy_match" -> ((s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val canon = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(col("n_name"), lit("-"), col("c_custkey").cast("string"))
            .as("canon_name"))
      val ck = col("c_custkey").cast("string")
      val p = lit(1L) + shiftright(
        u20(concat(lit("fp:"), ck)) * length(col("canon_name")), 20)
      val dirty = canon
        .where(u20(concat(lit("fz:"), ck)) < lit(524288L))
        .select(col("c_custkey").as("dirty_id"),
          concat(
            col("canon_name").substr(lit(1), (p - 1L).cast("int")),
            col("canon_name").substr((p + 1L).cast("int"), lit(200)))
            .as("dirty_name"))
      EntityResolution.matchByEditDistance(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 1)
        .select(col("dirty_id"), col("c_custkey").as("match_key"),
          col("edit_dist").cast("long").as("edit_dist"))
    }),

    // §2#55b fuzzy entity resolution at DISTANCE 2: depth-2 deletion
    // neighborhoods both sides (fan-out ≈ len²/2 keys per row — still a
    // per-name constant), thresholded-levenshtein verify. The corpus
    // plants a mix of one-deletion (d=1) and two-deletion (d=2)
    // corruptions; the exhaustive cross-product oracle again proves
    // blocking completeness at the wider radius
    "q_fuzzy_match2" -> ((s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val canon = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(col("n_name"), lit("-"), col("c_custkey").cast("string"))
            .as("canon_name"))
      val ck = col("c_custkey").cast("string")
      def del(nameCol: Column, p: Column): Column =
        concat(nameCol.substr(lit(1), (p - 1L).cast("int")),
          nameCol.substr((p + 1L).cast("int"), lit(200)))
      val p1 = lit(1L) + shiftright(
        u20(concat(lit("f2a:"), ck)) * length(col("canon_name")), 20)
      val n1 = del(col("canon_name"), p1)
      // second deletion position drawn over the ALREADY-SHORTENED name
      val p2 = lit(1L) + shiftright(u20(concat(lit("f2b:"), ck)) * length(n1), 20)
      val n2 = del(n1, p2)
      val dirty = canon
        .where(u20(concat(lit("fz2:"), ck)) < lit(524288L))
        .select(col("c_custkey").as("dirty_id"),
          when(pmod(u20(concat(lit("fn:"), ck)), lit(3L)) === 0L, n1)
            .otherwise(n2).as("dirty_name"))
      EntityResolution.matchByEditDistance(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 2)
        .select(col("dirty_id"), col("c_custkey").as("match_key"),
          col("edit_dist").cast("long").as("edit_dist"))
    }),

    // §2#56 small-file compaction: 64 micro-files rewritten into
    // size-targeted files through the REAL write path; the gate is content
    // identity (read-back of the compacted copy vs the oracle over the
    // original table) — compaction must be a no-op on the row multiset
    // (operators/Compaction.scala; file-count math is spec-pinned)
    "q_compaction" -> ((s, dir) => {
      val tmp = gateTmpDir("graft_compact-")
      val small = s"$tmp/small"
      val packed = s"$tmp/packed"
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(64).write.mode("overwrite").parquet(small)
      val (nb, na, _) = Compaction.compact(s, small, packed,
        targetBytes = 8L * 1024 * 1024)
      require(na <= nb, s"compaction grew the file count: $nb -> $na")
      s.read.parquet(packed)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
    }),

    // §2#37j bitmap-index EXACT distinct (the roaring-bitmap device next
    // to the HLL sketch): presence bits OR-folded into 63-key words
    // (sign-bit-free, engine-portable), popcount sum == count_distinct —
    // proven in-row by emitting both (operators/Bitmap.scala)
    "q_bitmap_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Bitmap.cardinality(
          Bitmap.words(ev, Seq("event_type"), col("user_id")),
          Seq("event_type"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
        .select(col("event_type"), col("n_distinct"), col("n_exact"))
    }),

    // §2#37k bitmap set algebra — audience overlap/reach without touching
    // raw events twice: |purchasers ∩ clickers| = popcount(AND) over word
    // tables, |∪| = popcount of the OR-merge; the oracle re-derives all
    // four from exact distinct sets, pinning the algebra
    "q_bitmap_setops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def bm(t: String) = Bitmap.words(
        ev.filter(col("event_type") === t), Nil, col("user_id"))
      val (pur, clk) = (bm("purchase"), bm("click"))
      Bitmap.cardinality(pur, Nil).withColumnRenamed("n_distinct", "n_purchase")
        .crossJoin(Bitmap.cardinality(clk, Nil)
          .withColumnRenamed("n_distinct", "n_click"))
        .crossJoin(Bitmap.andCardinality(pur, clk)
          .withColumnRenamed("n_and", "n_both"))
        .crossJoin(Bitmap.orCardinality(pur, clk)
          .withColumnRenamed("n_or", "n_either"))
    }),

    // §2#57 one-pass table statistics (ANALYZE): per-column null count,
    // min/max, approx ndv from ONE scan — melt on the scan, one agg per
    // statistic family; the double column hashes through decimal(18,2)
    // (raw double→string is not engine-portable)
    // (operators/TableStats.scala)
    // §2#57b distribution-drift detection between two corpus snapshots —
    // the training-data monitoring op (PSI / two-sample chi-square
    // family): the event stream splits at its time midpoint into
    // base/new snapshots, both bucket on (event_type, value bucket), and
    // each bucket gets the Pearson two-sample chi-square contribution as
    // an exact-integer-products-then-one-double-divide quantized long
    // (operators/Drift.scala — chosen over PSI's Σ(p−q)ln(p/q) because
    // it needs no transcendental, so the oracle replays it bit-exact).
    // Drift is INJECTED into the new half deterministically (a user slice
    // relabeled to a new event type + another slice's values scaled
    // 1.5×) — the no-drift corpus would pin nothing. Scale shape: two
    // map-side-combined scans to bounded bucket tables, bucket-sized
    // full-outer join, one-row total broadcasts; nothing corpus-sized
    // shuffles. vbucket width 32 = a power of two, so the double divide
    // is exact in both engines
    "q_dist_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      val rng = ev.agg(min(col("us")).as("_lo"), max(col("us")).as("_hi"))
      val flagged = ev.crossJoin(broadcast(rng))
        .withColumn("is_new", col("us") * 2 >= col("_lo") + col("_hi"))
        .withColumn("etype",
          when(col("is_new") && pmod(col("user_id"), lit(5L)) === 0L,
            lit("drifted")).otherwise(col("event_type")))
        .withColumn("v",
          when(col("is_new") && pmod(col("user_id"), lit(7L)) === 0L,
            col("value") * lit(1.5)).otherwise(col("value")))
        .withColumn("vbucket",
          least(lit(15L), floor(col("v") / lit(32.0)).cast("long")))
      Drift.driftTable(
        flagged.filter(!col("is_new")).select(col("etype"), col("vbucket")),
        flagged.filter(col("is_new")).select(col("etype"), col("vbucket")),
        Seq("etype", "vbucket"))
    }),

    "q_table_stats" -> ((s, dir) => {
      import TableStats.ProfiledCol
      val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      TableStats.profile(ev, Seq(
        ProfiledCol("event_id", col("event_id"), Some(col("event_id"))),
        ProfiledCol("ts_us", col("ts_us"), Some(col("ts_us"))),
        ProfiledCol("user_id", col("user_id"), Some(col("user_id"))),
        ProfiledCol("value", col("value").cast("decimal(18,2)"), Some(col("value"))),
        ProfiledCol("event_type", col("event_type"), None)), seed = 31L)
    }),

    // §2#52 regular-grid resampling with linear interpolation (6-hour grid
    // per entity): union readings ∪ span-bounded grid, carry both
    // directions in one window pass — no self-join, bit-portable doubles
    "q_resample" -> ((s, dir) =>
      TimeSeries.resampleLinear(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", 21600L, Seq("event_id"))),

    // §2#53d last-touch attribution (click/view → purchase, 7-day
    // lookback): the latest in-window touch carried to each conversion by
    // last(ignoreNulls) over ONE (user, ts, id)-sorted pass, plus the
    // lookback touch count (range frame on event-time micros) a
    // linear-credit model divides by; conversions with no in-window touch
    // keep NULL touch columns (the direct/unattributed bucket). One
    // shuffle, one shared sort, no self-join (operators/Attribution.scala)
    "q_attribution" -> ((s, dir) =>
      Attribution.lastTouch(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          isTouch = col("event_type").isin("click", "view"),
          isConversion = col("event_type") === "purchase",
          lookbackUs = 604800000000L)
        .select(col("conversion_id"), col("user").as("user_id"),
          col("conv_ts_us"), col("touch_id"), col("touch_ts_us"),
          col("touch_type"), col("age_us"), col("n_touches_window"))),

    // §2#53 ordered funnel (view → click → purchase within 24 h): earliest
    // qualifying event per stage, one row per user, ONE exchange for all
    // stage windows
    "q_funnel" -> ((s, dir) =>
      Behavioral.funnel(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          maxGapSeconds = Some(86400L), tieBreakCols = Seq("event_id"))
        .select(
          col("user_id"),
          unix_micros(col("stage_1_ts")).as("stage1_ts_us"),
          unix_micros(col("stage_2_ts")).as("stage2_ts_us"),
          unix_micros(col("stage_3_ts")).as("stage3_ts_us"),
          col("stages_completed"))),

    // §2#53b cohort retention matrix: first-seen week × weeks-since, active
    // user counts; weeks are pure integer µs arithmetic (engine-portable)
    "q_cohort_retention" -> ((s, dir) =>
      Behavioral.cohortRetention(
        Tables.events(s, dir).select(col("user_id"), col("ts")),
        "user_id", "ts")),

    // §2#53c first-order event-type transition matrix with row-conditional
    // probabilities (one lag shuffle, map-side-combined counts)
    "q_transitions" -> ((s, dir) =>
      Behavioral.transitions(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type", tieBreakCols = Seq("event_id"))),

    // §2#45b top-k collocations by rational PMI lift (multiword-expression
    // mining for tokenizer vocab / entity phrases); global top-k plans as
    // TakeOrdered, never a global sort
    "q_collocations" -> ((s, dir) =>
      NgramLM.collocations(Tables.documents(s, dir), "text",
        minCount = 5L, k = 20)),

    // §2#44b deterministic random projection 64→8 (JL-style embedding
    // compression before ANN/clustering): engine-portable hyperplanes,
    // bit-exact projected values, pure scan-side (zero shuffle)
    "q_rand_project" -> ((s, dir) =>
      Similarity.randomProject(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dimIn = 64, dimOut = 8, seed = 21L)),

    // §2#47b corpus snapshot diff (dataset versioning): old = corpus minus
    // every 10th doc, with every 7th doc's text edited; new = the corpus.
    // Fingerprints computed scan-side, the join ships (id, fp) not text.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val old = docs
        .where(pmod(col("doc_id"), lit(10L)) =!= 0L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7L)) === 0L,
            concat(col("text"), lit(" v1"))).otherwise(col("text")).as("text"))
      Diff.snapshotDiff(old, docs, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    }),

    // §2#46b deterministic train/val/test split assignment: disjoint +
    // exhaustive by construction (cumulative-fraction ladder on a portable
    // uniform; last split is the catch-all), scan-side, zero shuffle
    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id", seed = 13L,
          splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))),

    // §2#38b deterministic FIXED-SIZE per-stratum sample (exactly k rows
    // per event_type, identical across reruns/partitionings): k smallest
    // portable-hash uniforms via the TopKPerKey bounded-heap operator —
    // not a full per-stratum sort
    "q_sample_fixedk" -> ((s, dir) =>
      Sampling.fixedPerStratum(
          Tables.events(s, dir).select(col("event_id"), col("event_type")),
          Seq("event_type"), "event_id", k = 20, seed = 5L)
        .select(col("event_type"), col("event_id"), col("sample_u"))),

    // §2#38c weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // A-ES): exactly k docs with inclusion ∝ length(text), via the
    // quantized-integer priority key −((40·2^16 − ilog2q(u40+1))·2^20
    // div w) over the portable FnvMix draw — scan-side arithmetic + one
    // TakeOrdered, the corpus never shuffled; bit-replayable in SQL
    "q_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("weight"))
      Sampling.weightedFixedK(docs, "doc_id", "weight", k = 100, seed = 29L)
    }),

    // §2#36 regex tokenization + token histogram
    "q_token_hist" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(Text.regexTokens("text")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))),

    // §2#20c key-based incremental UPSERT through the REAL write path:
    // initial load (days 1-15) then an overlapping batch (days 10-30) merge
    // into a fresh partitioned parquet target; read back the final table.
    // Batch rows win per (user, type, day) key, ties broken (ts, event_id)
    // desc — dbt merge semantics, replay-idempotent. The oracle replays the
    // two-step merge as one prioritized dedupe (provably equivalent: the
    // second merge's winner per key is the same row either way).
    "q_upsert_merge" -> ((s, dir) => {
      val tmp = gateTmpDir("graft_upsert-")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
      val initial = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
      val batch = ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
      val key = Seq("user_id", "event_type", Upsert.PartCol)
      Upsert.mergeByKey(s, tmp, initial, key, "ts", Seq("event_id"))
      Upsert.mergeByKey(s, tmp, batch, key, "ts", Seq("event_id"))
      s.read.parquet(tmp).select(
        col("user_id"), col("event_type"),
        datediff(col(Upsert.PartCol), lit("1970-01-01").cast("date"))
          .cast("long").as("part_day"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    }),

    // §2#38d the SAME A-ES draw maintained over a STREAM — Efraimidis–
    // Spirakis is a streaming algorithm by construction (deterministic
    // per-row priority keys), so the running top-k over micro-batches
    // must equal the batch draw exactly; state = the k-row sample
    // itself, bounded forever, no watermark. The oracle IS
    // q_weighted_sample's
    "q_stream_weighted_sample" -> ((s, dir) => withGateShuffle(s) {
      val docs = Tables.documents(s, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("weight"))
      val (rdir, stream) = orderedReplay(s, docs, Seq("doc_id"),
        "q_stream_weighted_sample")
      val base = gateTmpDir("graft-streamws-")
      val target = s"$base/t"
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          graft.streaming.StreamSample.foldBatch(
            s, b, target, "doc_id", "weight", k = 100, seed = 29L)
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); assertMultiBatch(q) }
      finally {
        q.stop()
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      graft.streaming.StreamSample.current(s, target)
    }),

    // §2#20d CDC op-log APPLICATION (operators/Cdc.scala) — the missing
    // DELETE next to q_upsert_merge: a Debezium-shaped I/U/D change log
    // (derived from orders: unique o_orderkey as the sequence, status →
    // op, every 7th key brand-new) folds into the customer snapshot.
    // Latest op per key wins via one map-side-combinable max_by (no
    // window over the raw log), then ONE full-outer merge — a final D
    // drops the key, I/U upserts the payload, untouched keys keep their
    // snapshot rows
    "q_cdc_apply" -> ((s, dir) => {
      val snap = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      val log = Tables.orders(s, dir).select(
        when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("o_custkey").cast("long") + 1000000L)
          .otherwise(col("o_custkey").cast("long")).as("c_custkey"),
        col("o_orderkey").cast("long").as("seq"),
        when(col("o_orderstatus") === "F", lit("D"))
          .when(col("o_orderstatus") === "O", lit("U"))
          .otherwise(lit("I")).as("op"),
        concat(lit("upd_"), col("o_orderkey")).as("c_name"),
        pmod(col("o_orderkey"), lit(25L)).cast("long").as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"))
      Cdc.applyLog(snap, log, Seq("c_custkey"), "seq", "op")
    }),

    // §2#20e the SAME CDC feed materialized through Structured Streaming
    // (streaming/StreamCdc.scala), MERGE-ON-READ: each micro-batch
    // APPENDS its per-key winners as bucket-partitioned delta files
    // (O(batch) bytes — never a bucket rewrite), reads resolve
    // base ∪ deltas with the max-by-_seq winner fold, and only buckets
    // whose deltas outgrow the delta:base ratio compact (the r11
    // rewrite-on-touch, demoted to the amortized maintenance path).
    // Per-row _seq makes restart replays idempotent. Final state must
    // equal the one-shot batch apply — the oracle IS q_cdc_apply's
    "q_stream_cdc" -> ((s, dir) => withGateShuffle(s) {
      val snap = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      val logDf = Tables.orders(s, dir).select(
        when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("o_custkey").cast("long") + 1000000L)
          .otherwise(col("o_custkey").cast("long")).as("c_custkey"),
        col("o_orderkey").cast("long").as("seq"),
        when(col("o_orderstatus") === "F", lit("D"))
          .when(col("o_orderstatus") === "O", lit("U"))
          .otherwise(lit("I")).as("op"),
        concat(lit("upd_"), col("o_orderkey")).as("c_name"),
        pmod(col("o_orderkey"), lit(25L)).cast("long").as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"))
      val (rdir, stream) = orderedReplay(s, logDf, Seq("seq"), "q_stream_cdc")
      val base = gateTmpDir("graft-streamcdc-")
      val target = s"$base/t"
      graft.streaming.StreamCdc.initTarget(
        snap, target, Seq("c_custkey"), nBuckets = 16)
      // the replay harness feeds ONE file per micro-batch
      // (maxFilesPerTrigger=1); at sf10 that file is ~80 MB and the
      // default 128 MB split would decode it in a single task — shrink
      // the split so the batch scan parallelizes across row groups (the
      // standard ingest knob; 2.7 s → sub-second per batch measured)
      val prevSplit = s.conf.get("spark.sql.files.maxPartitionBytes")
      s.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      // compactRatio = 8: this replay is a bounded BULK load (the whole
      // feed lands before the first read), and the production practice
      // for bulk ingest is to raise/disable auto-compaction and compact
      // once at the end — mid-replay folds would be thrown-away work
      // (each later batch invalidates them; measured 8-11 s per
      // avoidable fold at sf10). Steady-state feeds keep the default
      // ratio 2.0, which the spec suite pins.
      // The try/finally covers stream CONSTRUCTION and start() too: a
      // setup failure must not leak the shrunken split size into every
      // subsequent gate in the session.
      try {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.streaming.StreamCdc.foldBatch(
              s, b, target, Seq("c_custkey"), "seq", "op", nBuckets = 16,
              compactRatio = 8.0)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); assertMultiBatch(q) }
        finally q.stop()
      } finally {
        s.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
        graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
      }
      graft.streaming.StreamCdc.currentState(s, target)
    }),

    // §2#61 schema-migration table SPLIT (reference
    // migrations/001_split_ports.sql:1 — the one reference file with no
    // graft counterpart until r12): the denormalized finest-grain table
    // splits into one DISTINCT projection per entity grain, a targeted
    // value correction lands on its grain (the reference's CHAdeMO
    // update), and the gate output IS the pre-cutover validation report
    // — row counts, grain-key uniqueness, source coverage,
    // child→parent containment, corrected-row counts — plus a
    // value-sum signature pinning the corrected split's contents
    "q_split_migration" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grains = Seq(
        Migrate.GrainSpec("users", Seq("user_id")),
        Migrate.GrainSpec("user_event_types", Seq("user_id", "event_type")),
        Migrate.GrainSpec("events_split",
          Seq("user_id", "event_type", "event_id"), Seq("value")))
      val corr = Seq(Migrate.Correction("events_split",
        pmod(col("event_id"), lit(997L)) === 13L, "value", lit(0.0)))
      val splits = Migrate.splitByGrain(ev, grains, corr)
      val sig = splits("events_split")
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("events_value_sum"))
      Migrate.validate(ev, grains, splits, corr).crossJoin(sig)
    }),

    // §2#47 sharded training-data export through the REAL write path:
    // deterministic fnv_mix(id) mod 8 membership (engine-portable — the
    // oracle recomputes every doc's shard), one directory per shard, rows
    // read BACK from the written files so the gate checks what landed on
    // disk, manifest row counts cross-checked against the read-back
    "q_shard_export" -> ((s, dir) => {
      val tmp = gateTmpDir("graft_shards-")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val manifest = Sink.writeShards(docs, tmp, "doc_id", 8)
        .select(col("shard"), col("n_rows"))
      s.read.parquet(tmp)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_rows_read"), sum(col("doc_id")).as("id_sum"))
        .join(manifest, Seq("shard"))
        .select(col("shard"), col("n_rows_read"), col("n_rows").as("n_rows_manifest"),
          col("id_sum"))
    }),

    // §2#47c multi-format source/sink roundtrip — ORC, JSON lines and CSV
    // through the REAL write+read paths (schema-steered reads, header CSV):
    // one signature row per format (count, id/ts sums, decimal-exact value
    // sum) that must equal the parquet source exactly — the interchange
    // guarantee a pipeline needs before handing data to tools that don't
    // speak parquet. Doubles survive text formats via shortest-roundtrip
    // printing; the oracle derives the same signature from the source table
    "q_format_roundtrip" -> ((s, dir) => {
      val tmp = gateTmpDir("graft_fmt-")
      val base = Tables.events(s, dir).select(
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      base.write.mode("overwrite").orc(s"$tmp/orc")
      base.write.mode("overwrite").json(s"$tmp/json")
      base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      // ts checksum mod a prime: a raw µs sum overflows int64 past ~5k rows
      def sig(df: DataFrame, fmt: String): DataFrame =
        df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          sum(pmod(col("ts_us"), lit(1000000007L))).as("ts_check"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
          .select(lit(fmt).as("format"), col("n_rows"), col("id_sum"),
            col("ts_check"), col("value_sum"))
      sig(s.read.orc(s"$tmp/orc"), "orc")
        .unionAll(sig(s.read.schema(base.schema).json(s"$tmp/json"), "json"))
        .unionAll(sig(s.read.schema(base.schema).option("header", "true")
          .csv(s"$tmp/csv"), "csv"))
    })
  )

  // ---- oracles ----------------------------------------------------------

  /** The decontamination oracle replay — shared VERBATIM by
    * q_decontaminate and q_decontaminate_bloom: the Bloom prefilter's
    * contract is result identity, so both gates compare against one
    * string. */
  private lazy val DecontaminateSql: String =
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |dp AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |  WHERE doc_id % 25 <> 0 OR doc_id >= 12500),
         |bp AS (SELECT doc_id AS bench_id, unnest(shingles) AS shingle FROM sh
         |  WHERE doc_id % 25 = 0 AND doc_id < 12500),
         |hot AS (SELECT shingle FROM dp GROUP BY 1 HAVING count(*) > 1000),
         |dpc AS (SELECT * FROM dp WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |bpc AS (SELECT * FROM bp WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |o AS (SELECT dpc.doc_id, bpc.bench_id, count(*) AS n_overlap
         |  FROM dpc JOIN bpc USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_bench_hits,
         |  cast(max(n_overlap) AS bigint) AS max_overlap
         |FROM o GROUP BY 1""".stripMargin

  /** Last-touch attribution replay — shared VERBATIM by q_attribution
    * and q_stream_attribution: the streaming twin's contract is exact
    * equality with the batch frame, so both gates compare against one
    * string (the decontaminate/bloom precedent).
    */
  private lazy val AttributionOracleSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    event_type IN ('click', 'view') AS is_touch,
        |    event_type = 'purchase' AS is_conv
        |  FROM events),
        |c AS (SELECT *,
        |    last_value(CASE WHEN is_touch THEN ts_us END IGNORE NULLS)
        |      OVER w1 AS touch_ts_us,
        |    last_value(CASE WHEN is_touch THEN event_id END IGNORE NULLS)
        |      OVER w1 AS touch_id,
        |    last_value(CASE WHEN is_touch THEN event_type END IGNORE NULLS)
        |      OVER w1 AS touch_type,
        |    coalesce(sum(CASE WHEN is_touch THEN 1 END) OVER w2, 0)
        |      AS n_touches_window
        |  FROM e
        |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    w2 AS (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conversion_id, user_id, ts_us AS conv_ts_us,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_id END
        |    AS touch_id,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_ts_us END
        |    AS touch_ts_us,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_type END
        |    AS touch_type,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN ts_us - touch_ts_us
        |    END AS age_us,
        |  cast(n_touches_window AS bigint) AS n_touches_window
        |FROM c WHERE is_conv""".stripMargin

  /** CTE chain replaying [[LangClassifier.classify]] over a CTE/table
    * `from(doc_id, text)` with the q_lang_classify artifact (4 classes
    * en/de/fr/es, B=256, seeds 101..104, bucket seed 53, scale 0.05,
    * bias 0): char trigrams of the lowercased text, ONE shared splitmix
    * bucket chain, four literal weight-list sums, per-class affines,
    * argmax via a >=-CASE (ties to the smaller class index — the Spark
    * struct(logit, -idx) max rule). Ends in
    * `mlpred(doc_id, n_features, lang, logit)`; shared by the
    * q_lang_classify gate and the curation pipeline's lang_ml stage.
    */
  private def langClassifyCtes(from: String): String = {
    val wl = (0 until 4).map(i =>
      QualityClassifier.seededWeights(256, 101L + i).mkString("[", ", ", "]"))
    val seedGolden = (BigInt(53) * GoldenB).mod(BigInt(2).pow(64))
    s"""mlt AS (SELECT doc_id, lower(text) AS t FROM $from),
       |mlf AS (SELECT doc_id, CASE WHEN length(t) >= 3
       |    THEN list_transform(range(1, length(t) - 1), i -> substring(t, i, 3))
       |    ELSE [] END AS fs FROM mlt),
       |mlbase AS (SELECT doc_id, len(fs) AS n_features FROM mlf),
       |mlh0 AS (SELECT doc_id, unnest(fs) AS shingle FROM mlf),
       |mlfold AS (SELECT doc_id, $FnvFoldSql AS h FROM mlh0),
       |mlz0 AS (SELECT doc_id,
       |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
       |      AS UBIGINT) AS z FROM mlfold),
       |mlz1 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM mlz0),
       |mlz2 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM mlz1),
       |mlhv AS (SELECT doc_id,
       |    cast(xor(z, z >> 31) % 256 AS bigint) + 1 AS bk FROM mlz2),
       |mlsums AS (SELECT doc_id,
       |    sum((${wl(0)})[bk]) AS s0, sum((${wl(1)})[bk]) AS s1,
       |    sum((${wl(2)})[bk]) AS s2, sum((${wl(3)})[bk]) AS s3
       |  FROM mlhv GROUP BY 1),
       |mlsc AS (SELECT b.doc_id, b.n_features,
       |    coalesce(s0, 0) AS s0, coalesce(s1, 0) AS s1,
       |    coalesce(s2, 0) AS s2, coalesce(s3, 0) AS s3
       |  FROM mlbase b LEFT JOIN mlsums w USING (doc_id)),
       |mllg AS (SELECT doc_id, n_features,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s0 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l0,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s1 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l1,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s2 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l2,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s3 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l3
       |  FROM mlsc),
       |mlpred AS (SELECT doc_id, n_features,
       |  CASE WHEN l0 >= l1 AND l0 >= l2 AND l0 >= l3 THEN 'en'
       |    WHEN l1 >= l2 AND l1 >= l3 THEN 'de'
       |    WHEN l2 >= l3 THEN 'fr' ELSE 'es' END AS lang,
       |  greatest(l0, l1, l2, l3) AS logit
       |FROM mllg)""".stripMargin
  }

  /** Shared CTE chain of the IVF-PQ replay (q_ivf_pq / q_ivf_pq_rerank):
    * deterministic coarse cells, residual construction, per-subspace
    * residual-PQ training, nprobe=2 cell pick, per-cell probe-residual ADC
    * tables — ends in `adc(vec_id, cell, code_0..3, adc_d2)` over the
    * probed cells' candidates (plus `emb(vec_id, v)` / `pv(v)` for the
    * re-rank continuation).
    */
  private lazy val ivfPqAdcSqlCtes: String = {
    val foldEW =
      "list_reduce(list_prepend(cast(0.0 AS double), " +
        "list_transform(range(1, len(e.v) + 1), " +
        "i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x)"
    val foldPW =
      "list_reduce(list_prepend(cast(0.0 AS double), " +
        "list_transform(range(1, len(p.v) + 1), " +
        "i -> (p.v[i] - w.w[i]) * (p.v[i] - w.w[i]))), (acc, x) -> acc + x)"
    val subs = (0 until 4)
      .map(s2 => pqSubspaceCtes(s2, s2 * 16 + 1, (s2 + 1) * 16, 4, "res"))
    val prsTabs = (0 until 4).map(s2 =>
      s"""prs$s2 AS (SELECT cell, v[${s2 * 16 + 1}:${(s2 + 1) * 16}] AS v FROM pres),
         |tb$s2 AS (SELECT p.cell AS pcell, w.cell AS code, $foldPW AS d
         |  FROM w1$s2 w, prs$s2 p)""".stripMargin)
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
       |  FROM embeddings
       |),
       |coarse AS (SELECT c AS cell, list_transform(range(0, 64),
       |    d -> CAST((c * 13 + d * 7) % 5 - 2 AS double)) AS w
       |  FROM range(0, 8) t(c)),
       |cd AS (SELECT e.vec_id, s.cell, $foldEW AS d2 FROM emb e, coarse s),
       |ca AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd)
       |  WHERE rn = 1),
       |res AS (SELECT e.vec_id, ca.cell,
       |    list_transform(range(1, len(e.v) + 1), i -> e.v[i] - w.w[i]) AS v
       |  FROM emb e JOIN ca USING (vec_id) JOIN coarse w ON w.cell = ca.cell),
       |${subs.mkString(",\n")},
       |pv AS (SELECT v FROM emb ORDER BY vec_id LIMIT 1),
       |pd AS (SELECT s.cell, list_reduce(list_prepend(cast(0.0 AS double),
       |    list_transform(range(1, len(p.v) + 1),
       |      i -> (p.v[i] - s.w[i]) * (p.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
       |  FROM coarse s, pv p),
       |pcells AS (SELECT cell FROM (SELECT cell,
       |    row_number() OVER (ORDER BY d2, cell) AS rn FROM pd) WHERE rn <= 2),
       |pres AS (SELECT w.cell,
       |    list_transform(range(1, len(p.v) + 1), i -> p.v[i] - w.w[i]) AS v
       |  FROM coarse w JOIN pcells USING (cell) CROSS JOIN pv p),
       |${prsTabs.mkString(",\n")},
       |cand AS (SELECT c0.vec_id, r.cell,
       |    c0.cell AS code_0, c1.cell AS code_1, c2.cell AS code_2,
       |    c3.cell AS code_3
       |  FROM code0 c0 JOIN code1 c1 USING (vec_id) JOIN code2 c2 USING (vec_id)
       |  JOIN code3 c3 USING (vec_id)
       |  JOIN (SELECT vec_id, cell FROM res) r USING (vec_id)
       |  JOIN pcells pc ON pc.cell = r.cell),
       |adc AS (SELECT cand.vec_id, cand.cell, cand.code_0, cand.code_1,
       |    cand.code_2, cand.code_3,
       |    (((t0.d + t1.d) + t2.d) + t3.d) AS adc_d2
       |  FROM cand
       |  JOIN tb0 t0 ON t0.pcell = cand.cell AND t0.code = cand.code_0
       |  JOIN tb1 t1 ON t1.pcell = cand.cell AND t1.code = cand.code_1
       |  JOIN tb2 t2 ON t2.pcell = cand.cell AND t2.code = cand.code_2
       |  JOIN tb3 t3 ON t3.pcell = cand.cell AND t3.code = cand.code_3)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_stg_cast" ->
      """SELECT DISTINCT cast(c_custkey AS varchar) AS customer_id, trim(c_name) AS name,
        |c_mktsegment AS segment, c_acctbal AS acctbal FROM customer""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS bigint) AS k_value,
        |event_type FROM events""".stripMargin,

    "q_dim_join" -> (
      "SELECT " + Keys.surrogateKeySql("c_custkey") + " AS customer_key, " +
        """c_custkey, c_name, n_name AS nation_name, r_name AS region_name
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    "q_capacity" ->
      """SELECT r_name AS region_name, cast(count(DISTINCT n_nationkey) AS bigint) AS n_nations,
        |cast(count(DISTINCT c_custkey) AS bigint) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1""".stripMargin,

    "q_latest_status" ->
      """SELECT user_id, epoch_us(ts) AS latest_ts_us, event_type AS latest_event_type
        |FROM (SELECT user_id, ts, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q_minby_maxby" ->
      """WITH f AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        |l AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events),
        |a AS (SELECT user_id, epoch_us(min(ts)) AS first_seen_us,
        |  epoch_us(max(ts)) AS last_seen_us FROM events GROUP BY 1)
        |SELECT a.user_id, a.first_seen_us, a.last_seen_us,
        |  f.event_type AS first_event_type, l.event_type AS last_event_type
        |FROM a JOIN f ON a.user_id = f.user_id AND f.rn = 1
        |JOIN l ON a.user_id = l.user_id AND l.rn = 1""".stripMargin,

    "q_status_changes" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status, lag(ts) OVER w AS previous_ts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status,
        |  epoch_us(previous_ts) AS previous_ts_us,
        |  lead(event_type) OVER w2 AS next_status,
        |  epoch_us(lead(ts) OVER w2) AS next_ts_us
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_scd2" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, event_type AS status,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER w2) AS valid_to_us,
        |  cast(row_number() OVER w2 AS bigint) AS version,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // streaming SCD2: identical to the batch q_scd2 oracle — collapsing
    // the stream's open/closed emissions must reproduce the batch table
    "q_stream_scd2" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, event_type AS status,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER w2) AS valid_to_us,
        |  cast(row_number() OVER w2 AS bigint) AS version,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // the streaming gate projects previous_ts/next_* out (see the query's
    // comment); otherwise the same transition set as q_status_changes
    "q_stream_changes" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS previous_status
        |  FROM events
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status
        |FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type""".stripMargin,

    // the streaming metric-layer gate: hourly metric instantiation —
    // exact decimal/long state, ratio as a final double division
    "q_stream_metrics" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS hour_start_us,
        |  event_type,
        |  cast(count(event_id) AS bigint) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) /
        |    cast(count(event_id) AS double) AS value_per_event
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the streaming ingest-dedup gate: the distinct surviving-fingerprint
    // set (same normalization replay as q_fingerprint)
    "q_stream_dedup" ->
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // the composed ingest pipeline: dedup survivors scored on NORMALIZED
    // text — one deterministic row per distinct fingerprint, same
    // classifier replay as q_quality_classifier keyed on the fingerprint
    "q_stream_ingest" -> {
      val wlist = QualityClassifier.seededWeights(256, 29L).mkString("[", ", ", "]")
      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH docs AS (
         |  SELECT DISTINCT trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS text
         |  FROM documents),
         |ids AS (SELECT md5(text) AS fingerprint, text FROM docs),
         |toks AS (SELECT fingerprint, $TokSql AS tk FROM ids),
         |feats AS (SELECT fingerprint, list_concat(tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
         |    ELSE [] END) AS fs
         |  FROM toks),
         |base AS (SELECT fingerprint, len(fs) AS n_features FROM feats),
         |h0 AS (SELECT fingerprint, unnest(fs) AS shingle FROM feats),
         |folded AS (SELECT fingerprint, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT fingerprint,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT fingerprint, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT fingerprint, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT fingerprint, xor(z, z >> 31) AS z FROM z2),
         |wsum AS (SELECT fingerprint,
         |    sum(($wlist)[cast(z % 256 AS bigint) + 1]) AS sum_w
         |  FROM hv GROUP BY 1),
         |sc AS (SELECT b.fingerprint, cast(b.n_features AS bigint) AS n_features,
         |    cast(coalesce(w.sum_w, 0) AS bigint) AS sum_w
         |  FROM base b LEFT JOIN wsum w USING (fingerprint)),
         |lg AS (SELECT fingerprint, n_features, sum_w,
         |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
         |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
         |      AS logit
         |  FROM sc)
         |SELECT fingerprint, n_features, sum_w, logit, logit > 0 AS pass FROM lg""".stripMargin
    },

    // the streaming heartbeat-outage gate: after sentinel clipping and
    // increment re-merging, the emitted outage set must equal the batch
    // q_offline_gaps formulation verbatim
    "q_stream_outages" ->
      """WITH b AS (SELECT min(ts) AS mstart, max(ts) AS mend FROM events),
        |g AS (SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS nxt
        |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
        |  UNION ALL
        |  SELECT g.user_id, b.mstart, g.ts FROM g, b WHERE g.prev IS NULL AND g.ts > b.mstart
        |  UNION ALL
        |  SELECT g.user_id, g.ts, b.mend FROM g, b WHERE g.nxt IS NULL AND g.ts < b.mend)
        |SELECT user_id, epoch_us(from_ts) AS from_us, epoch_us(to_ts) AS to_us,
        |  (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 AS gap_seconds
        |FROM gaps WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600""".stripMargin,

    // the streaming daily-downtime gate: inter-heartbeat gaps (per-entity
    // bounds — no leading/trailing edges, matching the disabled-timeout
    // stream) allocated to days in integer µs, minutes as one final divide
    "q_stream_uptime" ->
      """WITH g AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |big_gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g
        |  WHERE prev IS NOT NULL
        |    AND (epoch_us(ts) - epoch_us(prev)) / 1000000.0 > 3600),
        |gdays AS (
        |  SELECT user_id, from_ts, to_ts,
        |    cast(unnest(generate_series(cast(date_trunc('day', from_ts) AS timestamp),
        |      cast(date_trunc('day', to_ts) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
        |  FROM big_gaps),
        |downtime AS (
        |  SELECT user_id, date_id, sum(
        |    epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |    epoch_us(greatest(from_ts, cast(date_id AS timestamp)))) AS d_us
        |  FROM gdays
        |  WHERE epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |        epoch_us(greatest(from_ts, cast(date_id AS timestamp))) > 0
        |  GROUP BY 1, 2)
        |SELECT user_id, date_id, d_us / 60000000.0 AS downtime_minutes FROM downtime""".stripMargin,

    // the streaming session gate: same gap sessionization as SessSql,
    // rolled up per session (session_end = last event ts — the gate
    // already normalized session_window's end-plus-gap)
    "q_stream_sessions" -> (SessSql +
      """
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    // append-finalized gate: with the watermark sentinel-driven past every
    // real session's close, the appended set must equal the same batch
    // sessionization the complete-mode gate checks
    "q_stream_sessions_append" -> (SessSql +
      """
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    // restart-recovery gate: same semantics, same batch oracle — the
    // restart must be INVISIBLE in the final state
    "q_stream_restart" -> (SessSql +
      """
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    "q_json_frame" ->
      """WITH frames AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0
        |      THEN '[2,"' || event_id || '","' || event_type || '",' || props || ']'
        |      ELSE '[3,"' || event_id || '",' || props || ']' END AS msg
        |  FROM events
        |)
        |SELECT event_id,
        |  json_extract_string(msg, '$[0]') AS message_type_id,
        |  json_extract_string(msg, '$[1]') AS unique_id,
        |  cast(CASE WHEN json_extract_string(msg, '$[0]') = '2'
        |    THEN json_extract_string(msg, '$[3].k')
        |    ELSE json_extract_string(msg, '$[2].k') END AS bigint) AS k_value
        |FROM frames""".stripMargin,

    "q_span_enrich" ->
      """WITH spans AS (
        |  SELECT user_id, event_id AS span_id, ts AS from_ts,
        |    make_timestamp(epoch_us(ts) + 600000000) AS to_ts
        |  FROM events WHERE event_type = 'error'
        |), other AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type <> 'error'
        |)
        |SELECT o.user_id, s.span_id,
        |  cast(count(*) AS bigint) AS n_events,
        |  array_to_string(list_sort(list(o.event_id)), ',') AS event_ids
        |FROM other o JOIN spans s
        |  ON o.user_id = s.user_id AND o.ts >= s.from_ts AND o.ts < s.to_ts
        |GROUP BY o.user_id, s.span_id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT event_type, cast(count(*) AS bigint) AS n_sampled,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS sampled_value
        |FROM events
        |WHERE event_id % 100 < CASE event_type
        |  WHEN 'purchase' THEN 50 WHEN 'click' THEN 20 WHEN 'view' THEN 5 ELSE 10 END
        |GROUP BY event_type""".stripMargin,

    "q_redact" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |    text || ' phone=' || cast(1000000 + doc_id * 7919 AS varchar)
        |      || ' id=' || cast(doc_id AS varchar) AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t, '[0-9]{4,}')) AS bigint) AS n_long_numbers,
        |  regexp_replace(t, '[0-9]{4,}', '[NUM]', 'g') AS redacted
        |FROM injected""".stripMargin,

    // same fixed redaction chain; each stage's count runs on the previous
    // stage's output, exactly like the Spark projection
    "q_pii_scan" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |    text || ' contact=u' || cast(doc_id AS varchar) || '@example.com'
        |      || ' ip=10.' || cast(doc_id % 256 AS varchar)
        |      || '.' || cast((doc_id // 256) % 256 AS varchar)
        |      || '.' || cast(doc_id % 200 AS varchar)
        |      || ' tel=+' || cast(490000000 + doc_id * 37 AS varchar) AS t0
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |    cast(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_emails,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM injected
        |), s2 AS (
        |  SELECT doc_id, n_emails,
        |    cast(len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS bigint) AS n_ipv4,
        |    regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS t2
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, n_emails, n_ipv4,
        |    cast(len(regexp_extract_all(t2, '\+[0-9]{7,12}')) AS bigint) AS n_phones,
        |    regexp_replace(t2, '\+[0-9]{7,12}', '[PHONE]', 'g') AS t3
        |  FROM s2
        |)
        |SELECT doc_id, n_emails, n_ipv4, n_phones,
        |  cast(len(regexp_extract_all(t3, '[0-9]{4,}')) AS bigint) AS n_long_numbers,
        |  regexp_replace(t3, '[0-9]{4,}', '[NUM]', 'g') AS redacted
        |FROM s3""".stripMargin,

    // every step is order-deterministic double arithmetic (0-decimal round
    // agrees between engines: shortest-repr vs binary rounding can only
    // diverge mid-tie-chain, impossible at the integer boundary) and both
    // folds run left-to-right — hash-exact like the knn float oracles
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(cast(x AS double)))) / 127.0 AS scale
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x -> CASE WHEN scale > 0 THEN
        |      greatest(-127, least(127, cast(round(cast(x AS double) / scale) AS bigint)))
        |      ELSE 0 END) AS qv
        |  FROM s
        |)
        |SELECT vec_id, scale,
        |  list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> abs(cast(qv[i] AS double) * scale - cast(embedding[i] AS double)))),
        |    (acc, e) -> acc + e) AS sum_abs_err,
        |  list_reduce(list_prepend(cast(0 AS bigint),
        |    list_transform(qv, x -> abs(x))), (acc, x) -> acc + x) AS l1_q
        |FROM q""".stripMargin,

    "q_decontaminate" -> DecontaminateSql,

    // the Bloom-prefiltered path must produce the IDENTICAL result —
    // same oracle string, not a copy, so the contract can't drift
    "q_decontaminate_bloom" -> DecontaminateSql,


    "q_token_packing" -> (
      s"""WITH toks AS (SELECT doc_id, cast(len($TokSql) AS bigint) AS n_tokens FROM documents),
         |sh AS (SELECT doc_id, n_tokens, doc_id % 8 AS shard FROM toks),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM sh),
         |b AS (SELECT shard, doc_id, n_tokens,
         |    cast(cum - n_tokens AS bigint) AS chunk_offset,
         |    cast((cum - n_tokens) // 512 AS bigint) AS chunk_seq FROM c)
         |SELECT shard, chunk_seq, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n_tokens) AS bigint) AS total_tokens,
         |  min(chunk_offset) AS chunk_start_offset
         |FROM b GROUP BY 1, 2""".stripMargin),

    // no-split NFD packing: the sequential per-shard fold replayed as a
    // lockstep recursive CTE — one recursion step advances EVERY shard by
    // one rank, so depth = max shard size (bounded by the derived shard
    // count), and the (fill, bin, pos) chain is the exact greedy
    "q_pack_nosplit" -> {
      val shardU20 = graft.sources.ZipfCorpus.u20Sql(
        "'pk:' || CAST(doc_id AS varchar)")
      s"""WITH RECURSIVE ns AS (SELECT greatest(8, (count(*) + 511) // 512) AS sh
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         |    $shardU20 % ns.sh AS shard FROM documents, ns),
         |r AS (SELECT doc_id, len, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS rn
         |  FROM d),
         |walk AS (
         |  SELECT shard, rn, doc_id, len,
         |      CAST(0 AS BIGINT) AS bin, len AS fill, CAST(1 AS BIGINT) AS pos
         |    FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT n.shard, n.rn, n.doc_id, n.len,
         |      CASE WHEN w.fill + n.len > 4096 THEN w.bin + 1 ELSE w.bin END,
         |      CASE WHEN w.fill + n.len > 4096 THEN n.len ELSE w.fill + n.len END,
         |      CASE WHEN w.fill + n.len > 4096 THEN CAST(1 AS BIGINT)
         |        ELSE w.pos + 1 END
         |    FROM walk w JOIN r n ON n.shard = w.shard AND n.rn = w.rn + 1)
         |SELECT shard, doc_id, len, bin, pos, fill AS fill_after FROM walk""".stripMargin
    },

    // ICP layout: the q_semdedup two-level trajectory replay, joined with
    // token counts, then the packChunksBy running sum per fine cell in
    // (d2, vec_id) order — d2 doubles are the replayed exact folds
    "q_context_order" -> (
      s"""WITH ${kMeans2Ctes(
             "SELECT greatest(8, (count(*) + 1023) // 1024) FROM embeddings")},
         |toks AS (SELECT doc_id AS vec_id,
         |    cast(len($TokSql) AS bigint) AS n_tokens FROM documents),
         |j AS (SELECT saf.vec_id, saf.ccell, saf.cell, saf.d2, toks.n_tokens
         |  FROM saf JOIN toks USING (vec_id)),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY cell
         |    ORDER BY d2, vec_id ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         |SELECT vec_id, ccell, cell, n_tokens,
         |  cast(cum - n_tokens AS bigint) AS chunk_offset,
         |  cast((cum - n_tokens) // 512 AS bigint) AS chunk_seq
         |FROM c""".stripMargin),

    // incremental ICP: base-trained two-level replay; the batch's
    // coarse→sub argmin chain is the q_semdedup_incremental pattern,
    // offsets continue from each cell's base token total
    "q_context_order_inc" -> (
      s"""WITH ${kMeans2Ctes(
             "SELECT greatest(8, (count(*) + 1023) // 1024) FROM embeddings" +
               " WHERE vec_id % 5 <> 0",
             "vec_id % 5 <> 0")},
         |toks AS (SELECT doc_id AS vec_id,
         |    cast(len($TokSql) AS bigint) AS n_tokens FROM documents),
         |icb AS (
         |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |  FROM embeddings WHERE vec_id % 5 = 0
         |), icd AS (
         |  SELECT e.vec_id, s.cell,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
         |  FROM icb e, w2 s
         |), ica AS (
         |  SELECT vec_id, cell AS ccell FROM (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM icd)
         |  WHERE rn = 1
         |), icsd AS (
         |  SELECT e.vec_id, ica.ccell, s.cell,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
         |  FROM icb e JOIN ica ON e.vec_id = ica.vec_id
         |  JOIN sw2 s ON s.ccell = ica.ccell
         |), icsa AS (
         |  SELECT vec_id, ccell, cell, d2 FROM (SELECT vec_id, ccell, cell, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM icsd)
         |  WHERE rn = 1
         |), icbt AS (
         |  SELECT saf.cell, sum(toks.n_tokens) AS basetok
         |  FROM saf JOIN toks USING (vec_id) GROUP BY 1
         |), icj AS (
         |  SELECT icsa.vec_id, icsa.ccell, icsa.cell, icsa.d2, toks.n_tokens
         |  FROM icsa JOIN toks USING (vec_id)
         |), icc AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY cell
         |    ORDER BY d2, vec_id ROWS UNBOUNDED PRECEDING) AS cum FROM icj
         |)
         |SELECT icc.vec_id, icc.ccell, icc.cell, icc.n_tokens,
         |  cast(icc.cum - icc.n_tokens + coalesce(icbt.basetok, 0) AS bigint)
         |    AS chunk_offset,
         |  cast((icc.cum - icc.n_tokens + coalesce(icbt.basetok, 0)) // 512
         |    AS bigint) AS chunk_seq
         |FROM icc LEFT JOIN icbt ON icc.cell = icbt.cell""".stripMargin),

    "q_inverted_index" -> (
      s"""WITH p AS (SELECT DISTINCT doc_id, token FROM
         |    (SELECT doc_id, unnest($TokSql) AS token FROM documents)),
         |agg AS (SELECT token, count(*) AS df_cnt,
         |    list_sort(list(doc_id)) AS post FROM p GROUP BY 1)
         |SELECT token, cast(df_cnt AS bigint) AS df_cnt,
         |  array_to_string(list_slice(post, 1, 50), ',') AS postings_csv,
         |  cast(CASE WHEN df_cnt > 50 THEN 1 ELSE 0 END AS bigint) AS truncated
         |FROM agg""".stripMargin),

    // BM25: rational log-free idf (2N-2df+1)/(2df+1), k1=6/5 b=3/4 folded
    // into exact integer products, each term one IEEE multiply per side +
    // one divide, quantized to 2^-20 (floor) before the order-free integer
    // sum — the SAME expression tree Spark evaluates, so scores hash-match
    "q_bm25" -> (
      s"""WITH $RetrievalCtes
         |SELECT query_id, doc_id, CAST(score_q20 AS BIGINT) AS score_q20,
         |  CAST(n_terms_hit AS BIGINT) AS n_terms_hit
         |FROM bmr WHERE rn <= 10""".stripMargin),

    // RRF hybrid fusion: both scorers' top-10 tables re-ranked, each rank's
    // contribution the exact integer 2^30 div (60 + rank), summed over a
    // full-outer candidate join — bit-identical fused order
    "q_rrf_fusion" -> (
      s"""WITH $RetrievalCtes,
         |nn2 AS (SELECT count(*) AS n2 FROM documents),
         |tft AS (SELECT qt.query_id, tf.doc_id,
         |    (tf * (n2 + 1) * 1048576) // (df + 1) AS term_q20
         |  FROM tf JOIN qt USING (token) JOIN dfc USING (token) CROSS JOIN nn2),
         |tfpd AS (SELECT query_id, doc_id, sum(term_q20) AS score_q20
         |  FROM tft GROUP BY 1, 2),
         |tfr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_q20 DESC, doc_id) AS rn FROM tfpd),
         |ra AS (SELECT query_id, doc_id, 1073741824 // (60 + rn) AS ca
         |  FROM bmr WHERE rn <= 10),
         |rb AS (SELECT query_id, doc_id, 1073741824 // (60 + rn) AS cb
         |  FROM tfr WHERE rn <= 10),
         |fused AS (SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
         |    coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |    coalesce(ca, 0) + coalesce(cb, 0) AS rrf_q30,
         |    (CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END +
         |     CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS n_rankers
         |  FROM ra FULL OUTER JOIN rb
         |    ON ra.query_id = rb.query_id AND ra.doc_id = rb.doc_id),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_q30 DESC, doc_id) AS rn2 FROM fused)
         |SELECT query_id, doc_id, CAST(rrf_q30 AS BIGINT) AS rrf_q30,
         |  CAST(n_rankers AS BIGINT) AS n_rankers
         |FROM fr WHERE rn2 <= 10""".stripMargin),

    // retrieval eval: conjunctive-containment qrels, floor-quantized
    // RR/AP, recall as an exact (hits, n_rel) pair — rank == the BM25
    // chain's rn for the kept top-10 rows, so both engines agree on it
    "q_retrieval_eval" -> (
      s"""WITH $RetrievalCtes,
         |qsz AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY 1),
         |dtok AS (SELECT DISTINCT doc_id, token FROM posting),
         |qrels AS (SELECT q2.query_id, d.doc_id
         |  FROM dtok d JOIN qt q2 ON d.token = q2.token
         |  JOIN qsz ON q2.query_id = qsz.query_id
         |  GROUP BY 1, 2, qsz.qn HAVING count(*) = qsz.qn),
         |rk AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank
         |  FROM bmr WHERE rn <= 10),
         |h AS (SELECT r.query_id, r.rank,
         |    count(*) OVER (PARTITION BY r.query_id ORDER BY r.rank) AS hsf
         |  FROM rk r JOIN qrels USING (query_id, doc_id)),
         |pq AS (SELECT query_id, min(rank) AS frr, count(*) AS nh,
         |    sum((hsf * 1048576) // rank) AS apn FROM h GROUP BY 1),
         |nr AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1)
         |SELECT nr.query_id, CAST(n_rel AS BIGINT) AS n_rel,
         |  CAST(coalesce(nh, 0) AS BIGINT) AS n_hits_at_k,
         |  CAST(coalesce(frr, -1) AS BIGINT) AS first_rel_rank,
         |  CAST(CASE WHEN frr IS NOT NULL THEN 1073741824 // frr
         |    ELSE 0 END AS BIGINT) AS rr_q30,
         |  CAST(coalesce(apn, 0) // n_rel AS BIGINT) AS ap_q20
         |FROM nr LEFT JOIN pq USING (query_id)""".stripMargin),

    // type-1 quantile: rank = ceil(p*n) in integer arithmetic, threshold =
    // rank-th smallest counting duplicates; phase = thresholds strictly
    // below the value (one row per prob, so equal thresholds still count)
    "q_quantile_phase" -> (
      s"""WITH t AS (SELECT doc_id, cast(len($TokSql) AS bigint) AS n_tokens
         |  FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |ranks AS (SELECT q_num, q_den, (n * q_num + q_den - 1) // q_den AS rk
         |  FROM (VALUES (1, 4), (1, 2), (3, 4)) AS q(q_num, q_den), n),
         |cells AS (SELECT n_tokens AS v, count(*) AS cnt FROM t GROUP BY 1),
         |cdf AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM cells),
         |thr AS (SELECT q_num, q_den, min(v) AS threshold
         |  FROM cdf JOIN ranks ON cum >= rk GROUP BY 1, 2)
         |SELECT doc_id, n_tokens,
         |  cast((SELECT count(*) FROM thr WHERE t.n_tokens > thr.threshold)
         |    AS bigint) AS phase
         |FROM t""".stripMargin),

    // same rational-idf arithmetic in the same operation order; ties in
    // score break on the token, so the top-5 set is deterministic
    "q_tfidf_terms" -> (
      s"""WITH tok AS (SELECT doc_id, unnest($TokSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfc AS (SELECT token, count(*) AS df_cnt FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS nd FROM documents),
         |sc AS (SELECT doc_id, tf.token AS token, tf, df_cnt,
         |    CAST(tf AS double) * (CAST(nd + 1 AS double) /
         |      CAST(df_cnt + 1 AS double)) AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY CAST(tf AS double) * (CAST(nd + 1 AS double) /
         |        CAST(df_cnt + 1 AS double)) DESC, tf.token) AS rn
         |  FROM tf JOIN dfc USING (token), n)
         |SELECT doc_id, token, cast(tf AS bigint) AS tf,
         |  cast(df_cnt AS bigint) AS df_cnt, score
         |FROM sc WHERE rn <= 5""".stripMargin),

    // hot set derived on the segment STRING here (Spark groups by an
    // internal xxhash64 of it — same set, the hash never leaves the plan);
    // string_agg skips the CASE's nulls exactly like Spark's array_join
    "q_segment_dedup" -> segmentDedupOracleSql("", "documents", 3),

    // window-grain exact-substring duplicate marking: 5-token sliding
    // windows with multiplicity; a window is duplicated when its text
    // occupies >= 2 (doc, position) slots corpus-wide
    "q_dup_spans" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, unnest(w) AS win FROM wins),
         |occ AS (SELECT win FROM (SELECT win, count(*) AS c FROM posting GROUP BY 1)
         |  WHERE c >= 2),
         |dpd AS (SELECT doc_id, count(*) AS n_dup
         |  FROM posting JOIN occ USING (win) GROUP BY 1)
         |SELECT w.doc_id,
         |  cast(len(w.w) AS bigint) AS n_windows,
         |  cast(coalesce(d.n_dup, 0) AS bigint) AS n_dup_windows,
         |  CASE WHEN len(w.w) > 0
         |    THEN round(coalesce(d.n_dup, 0) / cast(len(w.w) AS double), 6) END
         |    AS dup_ratio
         |FROM wins w LEFT JOIN dpd d USING (doc_id)""".stripMargin,

    // span-grain duplicate REMOVAL: duplicated windows minus the
    // corpus-first occurrence (row_number formulation — Spark uses the
    // equivalent min-(doc,pos) witness), islands on window position,
    // token-level cut, order-preserving reassembly. 1-based list positions
    // throughout (Spark side is 0-based; both self-consistent).
    "q_dup_span_removal" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, u.j AS pos, u.win FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
         |    j -> struct_pack(j := j, win := w[j]))) AS u FROM wins)),
         |ranked AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY win) AS c
         |  FROM posting),
         |cut AS (SELECT doc_id, pos FROM ranked WHERE c >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         |      THEN 1 ELSE 0 END AS brk FROM cut)),
         |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
         |  FROM isl GROUP BY 1, 2),
         |stats AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS n_removed
         |  FROM spans GROUP BY 1),
         |remtok AS (SELECT doc_id, unnest(generate_series(s, e)) AS tp FROM spans),
         |tokens AS (SELECT doc_id, u.j AS tp, u.t FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |    j -> struct_pack(j := j, t := tk[j]))) AS u FROM toks)),
         |clean AS (SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.tp) AS clean_text
         |  FROM tokens t LEFT JOIN remtok r ON t.doc_id = r.doc_id AND t.tp = r.tp
         |  WHERE r.tp IS NULL GROUP BY 1)
         |SELECT k.doc_id,
         |  cast(len(k.tk) AS bigint) AS n_tokens,
         |  cast(coalesce(st.n_removed, 0) AS bigint) AS n_removed_tokens,
         |  cast(coalesce(st.n_spans, 0) AS bigint) AS n_spans,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM toks k
         |LEFT JOIN stats st USING (doc_id)
         |LEFT JOIN clean c ON k.doc_id = c.doc_id""".stripMargin,

    // variable-length maximal duplicated spans: ALL occurrences of
    // duplicated 5-windows (no keep-first), islands on window position,
    // span rows with 0-based token offsets (posting positions are 1-based
    // in the list replay, shifted on output)
    "q_dup_spans_var" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, u.j AS pos, u.win FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
         |    j -> struct_pack(j := j, win := w[j]))) AS u FROM wins)),
         |occ AS (SELECT win FROM (SELECT win, count(*) AS c FROM posting GROUP BY 1)
         |  WHERE c >= 2),
         |cut AS (SELECT doc_id, pos FROM posting JOIN occ USING (win)),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         |      THEN 1 ELSE 0 END AS brk FROM cut))
         |SELECT doc_id,
         |  cast(min(pos) - 1 AS bigint) AS span_start,
         |  cast(max(pos) + 3 AS bigint) AS span_end,
         |  cast(max(pos) + 3 - (min(pos) - 1) + 1 AS bigint) AS span_len
         |FROM isl GROUP BY doc_id, island""".stripMargin,

    // segment dedup over the generated open-vocabulary corpus: the planted
    // 8-word boilerplate header (25 % of docs) is the hot-segment target,
    // a realistic shape the uniform driver corpus cannot produce
    "q_segment_dedup_zipf" -> segmentDedupOracleSql(
      s"${graft.sources.ZipfCorpus.ZdocsSql},\n", "zdocs", 4),

    "q_chunk_overlap" -> (
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents
         |  WHERE doc_id % 20 = 0),
         |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
         |st AS (SELECT doc_id, tk, n,
         |    list_filter(range(0, greatest(n, 1), 3),
         |      i -> (i = 0 AND n > 0) OR (i > 0 AND i + 3 < n)) AS ss
         |  FROM c),
         |ex AS (SELECT doc_id, tk, n,
         |    unnest(list_transform(range(1, len(ss) + 1),
         |      j -> struct_pack(j := j, s := ss[j]))) AS u
         |  FROM st)
         |SELECT doc_id, cast(u.j - 1 AS bigint) AS chunk_idx,
         |  cast(u.s AS bigint) AS start_tok,
         |  cast(least(6, n - u.s) AS bigint) AS n_tokens,
         |  array_to_string(list_slice(tk, u.s + 1, u.s + 6), ' ') AS chunk_text
         |FROM ex""".stripMargin),

    // centroid = the q_mean_pool math (order-free quantized sums); the
    // per-vector distance is a left-to-right fold — bit-exact like the
    // brute-kNN cosines
    "q_embed_outliers" ->
      """WITH x AS (SELECT cast(label AS bigint) AS label,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> struct_pack(p := i - 1,
        |        q := floor(cast(embedding[i] AS double) * 1099511627776) / 1099511627776))) AS u
        |  FROM embeddings),
        |c AS (SELECT label, u.p AS pos, sum(u.q) / count(*) AS cv FROM x GROUP BY 1, 2),
        |cl AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM c GROUP BY 1)
        |SELECT e.vec_id, cast(e.label AS bigint) AS label,
        |  sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> (cast(e.embedding[i] AS double) - cl.centroid[i])
        |        * (cast(e.embedding[i] AS double) - cl.centroid[i]))),
        |    (acc, d) -> acc + d)) AS dist_to_centroid
        |FROM embeddings e JOIN cl ON cast(e.label AS bigint) = cl.label""".stripMargin,

    // components quantized to k/2^40 (exact rationals that sum exactly in
    // doubles) → the sum is association-order-free; one exact division
    "q_mean_pool" ->
      """WITH x AS (SELECT cast(label AS bigint) AS label,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> struct_pack(p := i - 1,
        |        q := floor(cast(embedding[i] AS double) * 1099511627776) / 1099511627776))) AS u
        |  FROM embeddings)
        |SELECT label, cast(u.p AS bigint) AS pos,
        |  cast(count(*) AS bigint) AS n_vecs,
        |  sum(u.q) / count(*) AS centroid_val
        |FROM x GROUP BY 1, 2""".stripMargin,

    "q_corpus_stats" ->
      s"""WITH t AS (SELECT source, lang,
         |    cast(length(text) AS bigint) AS n_chars,
         |    cast(len($TokSql) AS bigint) AS n_tokens,
         |    cast(len(list_distinct($TokSql)) AS bigint) AS n_distinct
         |  FROM documents)
         |SELECT source, lang, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n_tokens) AS bigint) AS total_tokens,
         |  cast(sum(n_chars) AS bigint) AS total_chars,
         |  cast(sum(n_distinct) AS bigint) AS total_distinct,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
         |FROM t GROUP BY 1, 2""".stripMargin,

    // same signals as q_text_stats, thresholds multiplied out so no
    // division can produce NaN; reasons array order = rule order
    "q_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |x AS (SELECT doc_id,
         |    cast(len(tk) AS bigint) AS n,
         |    cast(len(list_distinct(tk)) AS bigint) AS nd,
         |    cast(len(list_filter(tk, t -> list_contains(['the','a','an','of','and','to','in','is','it','that'], t))) AS bigint) AS st
         |  FROM t),
         |d AS (SELECT doc_id,
         |    list_filter([
         |      CASE WHEN n < 32 THEN 'too_short' END,
         |      CASE WHEN cast(n - nd AS double) > 0.6 * cast(n AS double)
         |        THEN 'too_repetitive' END,
         |      CASE WHEN cast(st AS double) < 0.03 * cast(n AS double)
         |        THEN 'low_stopword' END], r -> r IS NOT NULL) AS reasons
         |  FROM x)
         |-- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
         |SELECT doc_id, len(reasons) = 0 AS keep,
         |  coalesce(array_to_string(reasons, ','), '') AS reasons FROM d""".stripMargin,

    // counts are integers, each probability is one exact double division
    // binary-quantized to a 2^-40 multiple (floor/×2^40/÷2^40 exact IEEE
    // ops) → per-doc sums are association-order-free and the score is
    // engine-exact; context totals derive from the bigram model, V from the
    // distinct unigram stream — mirroring NgramLM exactly
    "q_ngram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |big AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram FROM toks),
         |c12 AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM c12 GROUP BY 1),
         |v AS (SELECT cast(count(DISTINCT t) AS bigint) AS v
         |  FROM (SELECT unnest(tk) AS t FROM toks)),
         |sc AS (SELECT doc_id,
         |    floor(cast(c12.c12 + 1 AS double) / cast(c1.c1 + v.v AS double)
         |      * 1099511627776) / 1099511627776 AS p
         |  FROM big JOIN c12 USING (bigram)
         |  JOIN c1 ON split_part(big.bigram, ' ', 1) = c1.w1
         |  CROSS JOIN v)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
         |  sum(p) / count(*) AS avg_prob, min(p) AS min_prob
         |FROM sc GROUP BY 1""".stripMargin,

    // the LM-score replay feeding the exact rational-quantile cut: both
    // stages reuse their own gates' oracle shapes; avg_prob doubles are
    // identical (quantized-p sums), so the threshold comparison is exact
    "q_ppl_bucket" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |big AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram FROM toks),
         |c12 AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM c12 GROUP BY 1),
         |v AS (SELECT cast(count(DISTINCT t) AS bigint) AS v
         |  FROM (SELECT unnest(tk) AS t FROM toks)),
         |sc AS (SELECT doc_id,
         |    floor(cast(c12.c12 + 1 AS double) / cast(c1.c1 + v.v AS double)
         |      * 1099511627776) / 1099511627776 AS p
         |  FROM big JOIN c12 USING (bigram)
         |  JOIN c1 ON split_part(big.bigram, ' ', 1) = c1.w1
         |  CROSS JOIN v),
         |scored AS (SELECT doc_id, sum(p) / count(*) AS avg_prob
         |  FROM sc GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM scored),
         |ranks AS (SELECT q_num, q_den, (n * q_num + q_den - 1) // q_den AS rk
         |  FROM (VALUES (1, 3), (2, 3)) AS q(q_num, q_den), n),
         |cells AS (SELECT avg_prob AS v, count(*) AS cnt FROM scored GROUP BY 1),
         |cdf AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM cells),
         |thr AS (SELECT q_num, q_den, min(v) AS threshold
         |  FROM cdf JOIN ranks ON cum >= rk GROUP BY 1, 2)
         |SELECT doc_id, avg_prob,
         |  cast((SELECT count(*) FROM thr WHERE scored.avg_prob > thr.threshold)
         |    AS bigint) AS ppl_bucket
         |FROM scored""".stripMargin,

    // full FnvMix replay on CAST(doc_id AS VARCHAR) (ASCII digits, so
    // unicode(c) == UTF-8 byte); seed 7 enters as +7·golden mod 2^64; the
    // uniform is the top 40 bits. Weights/budget forced to double so both
    // engines run the identical (150.0 · w) / n IEEE op sequence (DuckDB
    // bare decimal literals would compute exact-decimal rates instead).
    // quantized frame sums are exact in ANY accumulation order, so only
    // the final mean/variance/z ops need matching order; the frame is the
    // same ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING per (user, ts, event)
    "q_rolling_anomaly" ->
      """WITH q AS (SELECT event_id, user_id, ts, value,
        |    floor(CAST(value AS double) * 1024) / 1024 AS q FROM events),
        |w AS (SELECT event_id, user_id, ts, value, q,
        |    count(q) OVER fr AS cnt,
        |    sum(q) OVER fr AS sx,
        |    sum(q * q) OVER fr AS sxx
        |  FROM q WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_id, user_id, ts, value, q, cnt,
        |    sx / CAST(cnt AS double) AS mean,
        |    sxx / CAST(cnt AS double)
        |      - (sx / CAST(cnt AS double)) * (sx / CAST(cnt AS double)) AS var
        |  FROM w)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  CASE WHEN cnt = 6 AND var > 0 THEN (q - mean) / sqrt(var) END AS z_score,
        |  cast(CASE WHEN cnt = 6 AND var > 0
        |        AND abs((q - mean) / sqrt(var)) > CAST(3.0 AS double)
        |    THEN 1 ELSE 0 END AS bigint) AS is_anomaly
        |FROM z""".stripMargin,

    // rolling point-in-time features: the same RANGE frames over epoch
    // micros — frames are [t-w, t] inclusive of timestamp peers in both
    // engines (RANGE CURRENT ROW = end of peer group), so no tie-break
    // column is needed; sums run in decimal so frame order can't move a bit
    "q_rolling_features" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w1 AS n_1h,
        |  cast(sum(cast(value AS decimal(18,2))) OVER w1 AS double) AS v_1h,
        |  count(*) OVER w24 AS n_24h,
        |  cast(sum(cast(value AS decimal(18,2))) OVER w24 AS double) AS v_24h
        |FROM events
        |WINDOW
        |  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |  w24 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // mergeable-state rollup: the scalar monoids re-derive exactly at month
    // grain; the register component exploits max-merge associativity —
    // daily registers merged to month == registers built on the month
    // directly, so the oracle builds them directly (seed 29) and applies
    // the same exact-integer raw-HLL estimator as q_card_sketch
    "q_agg_merge" -> {
      s"""WITH exact AS (SELECT event_type,
         |    date_trunc('month', cast(ts AS date)) AS month,
         |    count(*) AS n_events,
         |    cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
         |    min(value) AS min_value, max(value) AS max_value
         |  FROM events GROUP BY 1, 2),
         |hsrc AS (SELECT event_type, month, CAST(user_id AS VARCHAR) AS shingle
         |  FROM (SELECT DISTINCT event_type,
         |      date_trunc('month', cast(ts AS date)) AS month, user_id
         |    FROM events WHERE user_id IS NOT NULL)),
         |${hllRegsCtesOver(Seq("event_type", "month"), AggState.HllSeed)},
         |est AS (SELECT event_type, month,
         |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
         |    count(*) AS nb
         |  FROM regs GROUP BY 1, 2)
         |SELECT x.event_type, x.month, x.n_events, x.total_value,
         |  x.min_value, x.max_value,
         |  CAST(${Sketch.Numer} AS double) /
         |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
         |       AS double) / CAST(144115188075855872 AS double)) AS approx_users
         |FROM exact x LEFT JOIN est e
         |  ON x.event_type = e.event_type AND x.month = e.month""".stripMargin
    },

    // join-size sketch: one counter replay per join side (same seed so
    // bucket ids align), bucket-wise inner product per hash row, min over
    // rows; the exact pair count comes from the real per-user frequency
    // join the sketch is pricing
    "q_join_size_sketch" -> {
      s"""WITH rs AS (SELECT unnest(range(4)) AS r),
         |pa AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
         |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |pb AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
         |  WHERE event_type = 'click' AND user_id IS NOT NULL),
         |${cmCountersCtes("pa", "cma", 1024, 23L)},
         |${cmCountersCtes("pb", "cmb", 1024, 23L)},
         |ipp AS (SELECT r, sum(cma.cnt * cmb.cnt) AS ip
         |  FROM cma JOIN cmb USING (r, bucket) GROUP BY 1),
         |est AS (SELECT min(ip) AS est_pairs FROM ipp),
         |ex AS (SELECT sum(na * nb) AS true_pairs FROM
         |    (SELECT user_id, count(*) AS na FROM events
         |      WHERE event_type = 'purchase' GROUP BY 1) a
         |  JOIN (SELECT user_id, count(*) AS nb FROM events
         |      WHERE event_type = 'click' GROUP BY 1) b USING (user_id))
         |SELECT cast(est_pairs AS bigint) AS est_pairs,
         |  cast(true_pairs AS bigint) AS true_pairs,
         |  cast(est_pairs - true_pairs AS bigint) AS overcount
         |FROM est CROSS JOIN ex""".stripMargin
    },

    // join advice: same sketch replay (4 scenarios' worth of counter
    // tables), then the identical integer decision chain per scenario
    "q_join_advise" -> {
      def adviseCtes(p: String, scenario: String, cma: String, cmb: String) =
        s"""${p}_sa AS (SELECT min(s) AS n_rows_a, min(mx) AS hot_a FROM
           |  (SELECT r, sum(cnt) AS s, max(cnt) AS mx FROM $cma GROUP BY 1)),
           |${p}_sb AS (SELECT min(s) AS n_rows_b, min(mx) AS hot_b FROM
           |  (SELECT r, sum(cnt) AS s, max(cnt) AS mx FROM $cmb GROUP BY 1)),
           |${p}_ip AS (SELECT r, sum($cma.cnt * $cmb.cnt) AS ip
           |  FROM $cma JOIN $cmb USING (r, bucket) GROUP BY 1),
           |${p}_e AS (SELECT min(ip) AS est_pairs FROM ${p}_ip),
           |${p}_adv AS (SELECT '$scenario' AS scenario,
           |  cast(est_pairs AS bigint) AS est_pairs,
           |  cast(n_rows_a AS bigint) AS n_rows_a,
           |  cast(n_rows_b AS bigint) AS n_rows_b,
           |  cast(hot_a AS bigint) AS hot_a, cast(hot_b AS bigint) AS hot_b,
           |  CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN 'broadcast'
           |    WHEN greatest(hot_a, hot_b) > 500 THEN 'salt'
           |    ELSE 'shuffle' END AS decision,
           |  CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN
           |      (CASE WHEN n_rows_a <= n_rows_b THEN 'a' ELSE 'b' END)
           |    ELSE 'none' END AS broadcast_side,
           |  cast(CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN 1
           |    WHEN greatest(hot_a, hot_b) > 500
           |      THEN (greatest(hot_a, hot_b) + 499) // 500
           |    ELSE 1 END AS bigint) AS salt_buckets
           |  FROM ${p}_e CROSS JOIN ${p}_sa CROSS JOIN ${p}_sb)""".stripMargin
      s"""WITH rs AS (SELECT unnest(range(4)) AS r),
         |p1a AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
         |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |p1b AS (SELECT CAST(n_nationkey AS VARCHAR) AS shingle FROM nation),
         |p2b AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
         |  WHERE event_type = 'click' AND user_id IS NOT NULL),
         |p3a AS (SELECT CAST(CASE WHEN user_id % 4 < 1 THEN -1 ELSE user_id
         |    END AS VARCHAR) AS shingle FROM events
         |  WHERE event_type = 'view' AND user_id IS NOT NULL),
         |${cmCountersCtes("p1a", "cm1a", 4096, 23L)},
         |${cmCountersCtes("p1b", "cm1b", 4096, 23L)},
         |${cmCountersCtes("p2b", "cm2b", 4096, 23L)},
         |${cmCountersCtes("p3a", "cm3a", 4096, 23L)},
         |${adviseCtes("s1", "dim_join", "cm1a", "cm1b")},
         |${adviseCtes("s2", "fact_fact", "cm1a", "cm2b")},
         |${adviseCtes("s3", "skewed", "cm3a", "cm2b")}
         |SELECT * FROM s1_adv UNION ALL
         |SELECT * FROM s2_adv UNION ALL
         |SELECT * FROM s3_adv""".stripMargin
    },

    // the advised strategies executed: whatever physical shape the advisor
    // picked, the result must equal the PLAIN SQL equi-join — digested as
    // count + column checksums per scenario
    "q_join_advise_exec" ->
      """WITH purd AS (SELECT user_id % 25 AS k, event_id AS a_id FROM events
        |  WHERE event_type = 'purchase'),
        |dim AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CAST(n_regionkey AS BIGINT) * 1000 + CAST(n_nationkey AS BIGINT) AS b_id
        |  FROM nation),
        |purf AS (SELECT user_id AS k, event_id AS a_id FROM events
        |  WHERE event_type = 'purchase'),
        |clk AS (SELECT user_id AS k, event_id AS b_id FROM events
        |  WHERE event_type = 'click'),
        |hotv AS (SELECT CASE WHEN user_id % 4 < 1 THEN -1 ELSE user_id END AS k,
        |  event_id AS a_id FROM events WHERE event_type = 'view'),
        |dg AS (
        |  SELECT 'dim_join' AS scenario, a.a_id, b.b_id, a.k
        |  FROM purd a JOIN dim b USING (k)
        |  UNION ALL
        |  SELECT 'fact_fact', a.a_id, b.b_id, a.k FROM purf a JOIN clk b USING (k)
        |  UNION ALL
        |  SELECT 'skewed', a.a_id, b.b_id, a.k FROM hotv a JOIN clk b USING (k))
        |SELECT scenario, cast(count(*) AS bigint) AS n_pairs,
        |  cast(coalesce(sum(a_id), 0) AS bigint) AS sum_a_id,
        |  cast(coalesce(sum(b_id), 0) AS bigint) AS sum_b_id,
        |  cast(coalesce(sum(k), 0) AS bigint) AS sum_k
        |FROM dg GROUP BY 1""".stripMargin,

    // spatial neighbor join: the oracle is exhaustive MODULO A THEOREM —
    // the join carries only the |Δlat| <= r band, which d² <= r² implies,
    // so correctness equals the full cross product while DuckDB's IEJoin
    // keeps the sf1 replay feasible; it knows nothing of cells, so a
    // candidate the blocking missed would hash-mismatch
    "q_geo_join" -> {
      s"""WITH $GeoPtsCte
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |  (a.lat_udeg - b.lat_udeg) * (a.lat_udeg - b.lat_udeg) +
         |  (a.lon_udeg - b.lon_udeg) * (a.lon_udeg - b.lon_udeg) AS d2
         |FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         |  AND b.lat_udeg >= a.lat_udeg - 250000
         |  AND b.lat_udeg <= a.lat_udeg + 250000
         |  AND b.lon_udeg >= a.lon_udeg - 250000
         |  AND b.lon_udeg <= a.lon_udeg + 250000
         |WHERE (a.lat_udeg - b.lat_udeg) * (a.lat_udeg - b.lat_udeg) +
         |  (a.lon_udeg - b.lon_udeg) * (a.lon_udeg - b.lon_udeg)
         |  <= ${250000L * 250000L}""".stripMargin
    },

    // epoch shuffle: the same md5 20-bit draw chain as the Spark side,
    // positions from the identical (key, id)-ordered window; the shard
    // count replays Layout.shardsFor from the oracle's own count(*)
    "q_epoch_shuffle" -> (
      s"""WITH ns AS (SELECT greatest(8, (count(*) + 8191) // 8192) AS sh
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(range(0, 3)) AS ep FROM documents),
         |k AS (SELECT doc_id, ep, ${graft.sources.ZipfCorpus.u20Sql(
             "CAST(doc_id AS varchar) || ':ep:' || CAST(ep AS varchar)")} AS key
         |  FROM e),
         |ks AS (SELECT doc_id, ep, key, key % ns.sh AS shard FROM k, ns)
         |SELECT doc_id, CAST(ep AS bigint) AS epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY ep, shard
         |    ORDER BY key, doc_id) AS bigint) AS pos
         |FROM ks""".stripMargin),

    // z-order: the same mask-doubling Morton spread as int64 literals
    "q_zorder" -> {
      s"""WITH $GeoPtsCte,
         |cells AS (SELECT c_custkey, lon_udeg // 10000 AS x_cell,
         |    lat_udeg // 10000 AS y_cell FROM pts)
         |SELECT c_custkey, x_cell, y_cell,
         |  ${Layout.zValueSql("x_cell", "y_cell")} AS zval,
         |  ${Layout.zValueSql("x_cell", "y_cell")} >> 15 AS bucket
         |FROM cells""".stripMargin
    },

    // fuzzy match: the oracle brute-forces the full dirty × canon product
    // (with the free |len diff| <= 1 prefilter, valid because distance >=
    // length difference) — blocking completeness is exactly what the hash
    // equality then proves
    "q_fuzzy_match" -> {
      val u20fp = graft.sources.ZipfCorpus.u20Sql(
        "'fp:' || CAST(c_custkey AS varchar)")
      val u20fz = graft.sources.ZipfCorpus.u20Sql(
        "'fz:' || CAST(c_custkey AS varchar)")
      s"""WITH canon AS (SELECT c_custkey,
         |    n_name || '-' || CAST(c_custkey AS varchar) AS canon_name
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
         |dd AS (SELECT c_custkey, canon_name,
         |    1 + (($u20fp * length(canon_name)) >> 20) AS p
         |  FROM canon WHERE $u20fz < 524288),
         |dirty AS (SELECT c_custkey AS dirty_id,
         |    substring(canon_name, 1, CAST(p - 1 AS int)) ||
         |    substring(canon_name, CAST(p + 1 AS int), 200) AS dirty_name
         |  FROM dd)
         |SELECT d.dirty_id, c.c_custkey AS match_key,
         |  cast(levenshtein(d.dirty_name, c.canon_name) AS bigint) AS edit_dist
         |FROM dirty d JOIN canon c
         |  ON abs(length(d.dirty_name) - length(c.canon_name)) <= 1
         |WHERE levenshtein(d.dirty_name, c.canon_name) <= 1""".stripMargin
    },

    // distance-2 fuzzy match: exhaustive cross product again (|len diff|
    // <= 2 prefilter is free: distance >= length difference) — a
    // distance-2 pair the depth-2 neighborhood blocking missed would
    // hash-mismatch
    "q_fuzzy_match2" -> {
      val u2a = graft.sources.ZipfCorpus.u20Sql(
        "'f2a:' || CAST(c_custkey AS varchar)")
      val u2b = graft.sources.ZipfCorpus.u20Sql(
        "'f2b:' || CAST(c_custkey AS varchar)")
      val ufz = graft.sources.ZipfCorpus.u20Sql(
        "'fz2:' || CAST(c_custkey AS varchar)")
      val ufn = graft.sources.ZipfCorpus.u20Sql(
        "'fn:' || CAST(c_custkey AS varchar)")
      s"""WITH canon AS (SELECT c_custkey,
         |    n_name || '-' || CAST(c_custkey AS varchar) AS canon_name
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
         |dd AS (SELECT c_custkey, canon_name,
         |    1 + (($u2a * length(canon_name)) >> 20) AS p1,
         |    $ufn % 3 AS fn
         |  FROM canon WHERE $ufz < 524288),
         |d1 AS (SELECT c_custkey, fn,
         |    substring(canon_name, 1, CAST(p1 - 1 AS int)) ||
         |    substring(canon_name, CAST(p1 + 1 AS int), 200) AS n1
         |  FROM dd),
         |d2 AS (SELECT c_custkey, fn, n1,
         |    1 + (($u2b * length(n1)) >> 20) AS p2
         |  FROM d1),
         |dirty AS (SELECT c_custkey AS dirty_id,
         |    CASE WHEN fn = 0 THEN n1
         |    ELSE substring(n1, 1, CAST(p2 - 1 AS int)) ||
         |      substring(n1, CAST(p2 + 1 AS int), 200) END AS dirty_name
         |  FROM d2)
         |SELECT d.dirty_id, c.c_custkey AS match_key,
         |  cast(levenshtein(d.dirty_name, c.canon_name) AS bigint) AS edit_dist
         |FROM dirty d JOIN canon c
         |  ON abs(length(d.dirty_name) - length(c.canon_name)) <= 2
         |WHERE levenshtein(d.dirty_name, c.canon_name) <= 2""".stripMargin
    },

    // compaction content identity: the oracle reads the ORIGINAL table —
    // the rewrite must be a no-op on the row multiset
    "q_compaction" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events""".stripMargin,

    // bitmap distinct: same 63-bit words (sign-free: engines range-check
    // 1<<63), popcount sum next to the exact count — equality is visible
    // in the row itself
    "q_bitmap_distinct" ->
      """WITH w AS (SELECT event_type, user_id // 63 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS int)) AS bits
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |bc AS (SELECT event_type, sum(bit_count(bits)) AS n_distinct FROM w GROUP BY 1),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT event_type, cast(n_distinct AS bigint) AS n_distinct,
        |  cast(n_exact AS bigint) AS n_exact
        |FROM bc JOIN ex USING (event_type)""".stripMargin,

    // bitmap set algebra: the oracle derives all four cardinalities from
    // exact distinct sets — the AND/OR word algebra must agree
    "q_bitmap_setops" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |c AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click' AND user_id IS NOT NULL)
        |SELECT
        |  cast((SELECT count(*) FROM p) AS bigint) AS n_purchase,
        |  cast((SELECT count(*) FROM c) AS bigint) AS n_click,
        |  cast((SELECT count(*) FROM p JOIN c USING (user_id)) AS bigint) AS n_both,
        |  cast((SELECT count(*) FROM (SELECT user_id FROM p
        |     UNION SELECT user_id FROM c)) AS bigint) AS n_either""".stripMargin,

    // table profile: melt via UNION ALL, exact scalar stats, ndv via the
    // same register replay + exact-integer estimator as q_agg_merge
    // drift table: same midpoint split, same injections, same integer
    // products → one double square/divide → floor·2^20 quantization
    "q_dist_drift" -> (
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, value
         |  FROM events),
         |rng AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
         |f AS (SELECT
         |    CASE WHEN us * 2 >= lo + hi AND user_id % 5 = 0 THEN 'drifted'
         |      ELSE event_type END AS etype,
         |    least(15, CAST(floor(
         |      (CASE WHEN us * 2 >= lo + hi AND user_id % 7 = 0
         |        THEN value * 1.5 ELSE value END) / 32.0) AS BIGINT)) AS vbucket,
         |    us * 2 >= lo + hi AS is_new
         |  FROM ev, rng),
         |b AS (SELECT etype, vbucket, count(*) AS n_base FROM f
         |  WHERE NOT is_new GROUP BY 1, 2),
         |n AS (SELECT etype, vbucket, count(*) AS n_new FROM f
         |  WHERE is_new GROUP BY 1, 2),
         |tt AS (SELECT count(*) FILTER (WHERE NOT is_new) AS tb,
         |    count(*) FILTER (WHERE is_new) AS tn FROM f),
         |j AS (SELECT coalesce(b.etype, n.etype) AS etype,
         |    coalesce(b.vbucket, n.vbucket) AS vbucket,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_new, 0) AS n_new
         |  FROM b FULL OUTER JOIN n ON b.etype = n.etype AND b.vbucket = n.vbucket)
         |SELECT etype, vbucket, n_base, n_new,
         |  CASE WHEN tb = 0 OR tn = 0 THEN 0 ELSE CAST(floor(least(
         |    (CAST(n_base AS DOUBLE) * CAST(tn AS DOUBLE)
         |      - CAST(n_new AS DOUBLE) * CAST(tb AS DOUBLE)) *
         |    (CAST(n_base AS DOUBLE) * CAST(tn AS DOUBLE)
         |      - CAST(n_new AS DOUBLE) * CAST(tb AS DOUBLE)) /
         |    ((CAST(n_base AS DOUBLE) + CAST(n_new AS DOUBLE))
         |      * CAST(tb AS DOUBLE) * CAST(tn AS DOUBLE)) * 1048576.0,
         |    4611686018427387904.0)) AS BIGINT)
         |  END AS chi2_q20
         |FROM j, tt""".stripMargin),

    "q_table_stats" -> {
      s"""WITH melted AS (
         |  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS sval,
         |    CAST(event_id AS double) AS nval FROM events
         |  UNION ALL SELECT 'ts_us', CAST(epoch_us(ts) AS VARCHAR),
         |    CAST(epoch_us(ts) AS double) FROM events
         |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR),
         |    CAST(user_id AS double) FROM events
         |  UNION ALL SELECT 'value', CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
         |    CAST(value AS double) FROM events
         |  UNION ALL SELECT 'event_type', event_type, NULL FROM events),
         |sc AS (SELECT col_name, count(*) AS n_rows,
         |    sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         |    min(nval) AS min_num, max(nval) AS max_num
         |  FROM melted GROUP BY 1),
         |hsrc AS (SELECT col_name, sval AS shingle
         |  FROM (SELECT DISTINCT col_name, sval FROM melted WHERE sval IS NOT NULL)),
         |${hllRegsCtesOver(Seq("col_name"), 31L)},
         |est AS (SELECT col_name,
         |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
         |    count(*) AS nb
         |  FROM regs GROUP BY 1)
         |SELECT s.col_name, cast(s.n_rows AS bigint) AS n_rows,
         |  cast(s.n_nulls AS bigint) AS n_nulls, s.min_num, s.max_num,
         |  CAST(${Sketch.Numer} AS double) /
         |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
         |       AS double) / CAST(144115188075855872 AS double)) AS approx_ndv
         |FROM sc s LEFT JOIN est e USING (col_name)""".stripMargin
    },

    // identical union-and-carry formulation: grid instants from integer
    // ceil/floor of the per-user span, readings ordered before coincident
    // grid rows (is_grid asc), duplicates resolved by event_id. The
    // interpolation is the same IEEE op sequence as the Spark side (time
    // deltas are exact integers < 2^53, casts exact) — bit-portable.
    "q_resample" ->
      """WITH r AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(value AS double) AS v, 0 AS is_grid, event_id AS tb
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM r GROUP BY 1
        |  HAVING ((min(t) + 21599999999) // 21600000000)
        |      <= (max(t) // 21600000000)),
        |g AS (SELECT user_id,
        |    unnest(generate_series(
        |      ((t0 + 21599999999) // 21600000000) * 21600000000,
        |      (t1 // 21600000000) * 21600000000, 21600000000)) AS t,
        |    CAST(NULL AS double) AS v, 1 AS is_grid, CAST(0 AS bigint) AS tb
        |  FROM b),
        |u AS (SELECT * FROM r UNION ALL SELECT * FROM g),
        |w AS (SELECT user_id, t, is_grid,
        |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wp AS pt,
        |    last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
        |      OVER wp AS pv,
        |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wn AS nt,
        |    last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
        |      OVER wn AS nv
        |  FROM u WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY t ASC, is_grid ASC, tb ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY t DESC, is_grid ASC, tb ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, t AS grid_ts_us,
        |  CASE WHEN nt = pt THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(t - pt AS double) / CAST(nt - pt AS double)) END AS value
        |FROM w WHERE is_grid = 1 AND pt IS NOT NULL AND nt IS NOT NULL""".stripMargin,

    // identical window semantics both engines: last_value IGNORE NULLS
    // over the (ts, id)-ordered rows-preceding frame; the range frame
    // counts touches in [conv−7d, conv−1µs]; ages in integer µs.
    // Shared VERBATIM with the streaming twin — the stream's per-key
    // touch-window state must reproduce the batch frame exactly
    "q_attribution" -> AttributionOracleSql,

    "q_stream_attribution" -> AttributionOracleSql,


    // earliest-qualifying-event funnel semantics are tie-independent (min ts
    // is a total choice); gap compared in integer µs. The rn=1 trick picks
    // one row per user; stage cols are constant within the user partition.
    "q_funnel" ->
      """WITH w1 AS (SELECT user_id, ts, event_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |      AND epoch_us(ts) >= epoch_us(t1)
        |      AND epoch_us(ts) <= epoch_us(t1) + 86400000000
        |      THEN ts END) OVER (PARTITION BY user_id) AS t2
        |  FROM (SELECT user_id, ts, event_id, event_type, t1 FROM w1
        |        JOIN events USING (user_id, ts, event_id))),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) >= epoch_us(t2)
        |      AND epoch_us(ts) <= epoch_us(t2) + 86400000000
        |      THEN ts END) OVER (PARTITION BY user_id) AS t3 FROM w2),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM w3)
        |SELECT user_id, epoch_us(t1) AS stage1_ts_us,
        |  epoch_us(t2) AS stage2_ts_us, epoch_us(t3) AS stage3_ts_us,
        |  cast(CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS bigint)
        |    AS stages_completed
        |FROM r WHERE rn = 1""".stripMargin,

    // integer-µs week ids (div 604800000000) — no calendar semantics to
    // diverge on; DISTINCT (user, week) then count per (cohort, offset)
    "q_cohort_retention" ->
      """WITH wk AS (SELECT user_id, epoch_us(ts) // 604800000000 AS w
        |    FROM events),
        |u AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, w FROM wk)
        |SELECT u.cohort_week, a.w - u.cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN u USING (user_id) GROUP BY 1, 2""".stripMargin,

    // p is ONE IEEE division of two exact bigints — identical both engines
    "q_transitions" ->
      """WITH l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS double) / CAST(sum(n) OVER (PARTITION BY prev_type)
        |    AS double) AS p
        |FROM c""".stripMargin,

    // identical lift operation order (doubles before any multiply); the
    // LIMIT is deterministic because (lift DESC, w1, w2) is a total order
    "q_collocations" -> (
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |big AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
         |  FROM toks WHERE len(tk) >= 2),
         |bi AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |nb AS (SELECT sum(c12) AS nb FROM bi),
         |tok AS (SELECT unnest(tk) AS w FROM toks),
         |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         |nu AS (SELECT sum(c) AS nu FROM uni),
         |sc AS (SELECT string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2, c12,
         |    (CAST(c12 AS double) * (CAST(nu AS double) / CAST(nb AS double))) *
         |      (CAST(nu AS double) /
         |        (CAST(u1.c AS double) * CAST(u2.c AS double))) AS lift
         |  FROM bi
         |  JOIN uni u1 ON string_split(bigram, ' ')[1] = u1.w
         |  JOIN uni u2 ON string_split(bigram, ' ')[2] = u2.w, nb, nu
         |  WHERE c12 >= 5)
         |SELECT w1, w2, cast(c12 AS bigint) AS c12, lift FROM sc
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin),

    // plane components recomputed from the QUADRATIC-mod integer formula
    // (k = pos·64 + (i−1) + 21·83492791 = … + 1753348611, exact in both
    // engines), dot = the same left-to-right fold as the brute-kNN oracle
    "q_rand_project" ->
      """WITH j AS (SELECT pos, list_transform(
        |    list_transform(range(0, 64), d -> (pos * 64 + d + 1753348611) % 1000003),
        |    k -> cast((k * k % 1000003 * 73856093 + k * 19349663) % 1000003 AS double)
        |      / 1000003.0 - 0.5) AS w
        |  FROM (SELECT unnest(range(0, 8)) AS pos)),
        |p AS (SELECT e.vec_id, j.pos,
        |    list_reduce(list_prepend(CAST(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS double) * j.w[i])),
        |      (acc, x) -> acc + x) AS val
        |  FROM embeddings e, j)
        |SELECT vec_id, cast(pos AS bigint) AS pos, val FROM p""".stripMargin,

    // the oracle diffs CONTENT equality directly — Spark's internal
    // xxhash64 fingerprint never leaves the plan
    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 0
        |), d AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old o FULL OUTER JOIN documents n ON o.doc_id = n.doc_id
        |)
        |SELECT status, cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(doc_id) AS bigint) AS id_sum
        |FROM d GROUP BY 1""".stripMargin,

    // the ladder thresholds are the SAME Scala-computed doubles the Spark
    // side embeds (0.9 + 0.05 = 0.9500000000000001 — both engines compare
    // against that exact value)
    "q_split_assign" -> {
      val seedGolden = (BigInt(13) * GoldenB).mod(BigInt(2).pow(64))
      val cums = Sampling.cumFractions(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""WITH h0 AS (SELECT doc_id, source,
         |    CAST(doc_id AS VARCHAR) AS shingle FROM documents),
         |folded AS (SELECT doc_id, source, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id, source,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, source, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, source, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, source, xor(z, z >> 31) AS z FROM z2),
         |u AS (SELECT doc_id, source,
         |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv),
         |a AS (SELECT doc_id, source,
         |    CASE WHEN u < CAST(${cums(0)} AS double) THEN 'train'
         |         WHEN u < CAST(${cums(1)} AS double) THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM u)
         |SELECT source, split, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(doc_id) AS bigint) AS id_sum
         |FROM a GROUP BY 1, 2""".stripMargin
    },

    // same FnvMix-uniform replay as q_mixture_sample; the fixed-k draw is
    // a row_number here vs the bounded-heap TopKPerKey in Spark — identical
    // selection, different physical operator
    "q_sample_fixedk" -> {
      val seedGolden = (BigInt(5) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH h0 AS (SELECT event_id, event_type,
         |    CAST(event_id AS VARCHAR) AS shingle FROM events),
         |folded AS (SELECT event_id, event_type, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT event_id, event_type,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT event_id, event_type, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT event_id, event_type, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT event_id, event_type, xor(z, z >> 31) AS z FROM z2),
         |u AS (SELECT event_id, event_type,
         |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS sample_u
         |  FROM hv),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY sample_u, event_id) AS rn FROM u)
         |SELECT event_type, event_id, sample_u FROM r WHERE rn <= 20""".stripMargin
    },

    "q_mixture_sample" -> {
      val seedGolden = (BigInt(7) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH w(source, wt) AS (VALUES
         |  ('src0', CAST(0.4 AS double)), ('src1', CAST(0.3 AS double)),
         |  ('src2', CAST(0.15 AS double)), ('src3', CAST(0.1 AS double)),
         |  ('src4', CAST(0.05 AS double))),
         |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |r AS (SELECT w.source,
         |    least(CAST(1 AS double), CAST(150 AS double) * wt / CAST(n AS double)) AS rate
         |  FROM w JOIN cnt USING (source)),
         |h0 AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS shingle FROM documents),
         |folded AS (SELECT doc_id, source, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id, source,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616 AS UBIGINT) AS z
         |  FROM folded),
         |z1 AS (SELECT doc_id, source, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, source, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, source, xor(z, z >> 31) AS z FROM z2),
         |u AS (SELECT doc_id, source,
         |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv)
         |SELECT u.source, cast(count(*) AS bigint) AS n_kept,
         |  cast(sum(doc_id) AS bigint) AS id_sum
         |FROM u JOIN r ON u.source = r.source WHERE u.u < r.rate
         |GROUP BY 1""".stripMargin
    },

    // temperature balancing: rate = sqrt(n_min)/sqrt(n) — sqrt is the one
    // power IEEE requires correctly rounded, so the rate doubles (and the
    // keep decision) are bit-identical cross-engine; same FnvMix uniform
    // replay as q_mixture_sample, seed 13
    "q_temperature_sample" -> {
      val seedGolden = (BigInt(13) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |mn AS (SELECT min(n) AS n_min FROM cnt),
         |r AS (SELECT lang, n,
         |    sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n AS DOUBLE)) AS rate
         |  FROM cnt CROSS JOIN mn),
         |h0 AS (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) AS shingle
         |  FROM documents),
         |folded AS (SELECT doc_id, lang, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id, lang,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, lang, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, lang, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, lang, xor(z, z >> 31) AS z FROM z2),
         |u AS (SELECT doc_id, lang,
         |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv)
         |SELECT u.lang, CAST(r.n AS BIGINT) AS n_orig,
         |  cast(count(*) AS bigint) AS n_kept,
         |  cast(sum(doc_id) AS bigint) AS id_sum
         |FROM u JOIN r ON u.lang = r.lang WHERE u.u < r.rate
         |GROUP BY 1, 2""".stripMargin
    },

    // count-min: full FnvMix replay per hash-family member (seed 17+r),
    // power-of-two bucket mod (signed pmod == unsigned % on low bits),
    // counters grouped, probe estimate = min over depth cells with absent
    // cells as 0 — every step exact integer arithmetic
    "q_count_min" -> (
      s"""WITH toks AS (SELECT unnest($TokSql) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY 1),
         |probes AS (SELECT token, true_cnt FROM tc
         |  ORDER BY true_cnt DESC, token LIMIT 20),
         |rs AS (SELECT unnest(range(4)) AS r),
         |f0 AS (SELECT token AS shingle FROM toks),
         |folded AS (SELECT $FnvFoldSql AS h FROM f0),
         |j AS (SELECT h, r FROM folded CROSS JOIN rs),
         |z0 AS (SELECT r, CAST((CAST(h AS HUGEINT) +
         |    (17 + r) * CAST('$GoldenB' AS HUGEINT)) % 18446744073709551616
         |    AS UBIGINT) AS z FROM j),
         |z1 AS (SELECT r, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT r, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT r, xor(z, z >> 31) AS z FROM z2),
         |cm AS (SELECT r, cast(z % 1024 AS bigint) AS bucket, count(*) AS cnt
         |  FROM hv GROUP BY 1, 2),
         |p0 AS (SELECT token AS shingle, true_cnt FROM probes),
         |pfold AS (SELECT shingle, true_cnt, $FnvFoldSql AS h FROM p0),
         |pj AS (SELECT shingle, true_cnt, h, r FROM pfold CROSS JOIN rs),
         |pz0 AS (SELECT shingle, true_cnt, r, CAST((CAST(h AS HUGEINT) +
         |    (17 + r) * CAST('$GoldenB' AS HUGEINT)) % 18446744073709551616
         |    AS UBIGINT) AS z FROM pj),
         |pz1 AS (SELECT shingle, true_cnt, r,
         |    ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM pz0),
         |pz2 AS (SELECT shingle, true_cnt, r,
         |    ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM pz1),
         |phv AS (SELECT shingle, true_cnt, r, xor(z, z >> 31) AS z FROM pz2),
         |pe AS (SELECT shingle AS token, true_cnt, r,
         |    cast(z % 1024 AS bigint) AS bucket FROM phv),
         |est AS (SELECT token, true_cnt,
         |    min(coalesce(cm.cnt, 0)) AS est_cnt
         |  FROM pe LEFT JOIN cm USING (r, bucket) GROUP BY 1, 2)
         |SELECT token, cast(true_cnt AS bigint) AS true_cnt,
         |  cast(est_cnt AS bigint) AS est_cnt,
         |  cast(est_cnt - true_cnt AS bigint) AS overcount FROM est""".stripMargin),

    // HLL envelope gate: the datasketches estimate is engine-specific,
    // but the gate emits only its ±5% error-envelope verdict next to
    // the exact count — both fully SQL-replayable (TRUE iff the sketch
    // behaves; measured rel-err ≤ 2.03% at sf10, ≥ 2.4× headroom)
    "q_hll_sketch" -> (
      """SELECT event_type, TRUE AS hll_within_5pct,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),

    // IVF recall-envelope gates: k-means cells aren't SQL-replayable,
    // so the gate emits the recall-≥-20%-vs-brute-force verdict plus
    // the deterministic probe/result counts (envelope floors measured
    // across sf0.001→sf10 with ≥ 1.5× headroom; exact neighbor lists
    // are pinned by the hash-exact det twins)
    "q_knn_ivf" -> (
      """SELECT CAST(5 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(5 * count(*) AS BIGINT) AS n_ret,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin),

    "q_knn_ivf_inc" -> (
      """SELECT CAST(5 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(5 * count(*) AS BIGINT) AS n_ret,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin),

    // the streaming count-min twin: same counters via the stateful-agg
    // path, compared at counter-table grain
    "q_stream_cm" -> (
      s"""WITH f0 AS (SELECT event_type, CAST(user_id AS VARCHAR) AS shingle
         |  FROM events WHERE user_id IS NOT NULL),
         |folded AS (SELECT event_type, $FnvFoldSql AS h FROM f0),
         |rs AS (SELECT unnest(range(4)) AS r),
         |j AS (SELECT event_type, h, r FROM folded CROSS JOIN rs),
         |z0 AS (SELECT event_type, r, CAST((CAST(h AS HUGEINT) +
         |    (19 + r) * CAST('$GoldenB' AS HUGEINT)) % 18446744073709551616
         |    AS UBIGINT) AS z FROM j),
         |z1 AS (SELECT event_type, r, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT event_type, r, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT event_type, r, xor(z, z >> 31) AS z FROM z2)
         |SELECT event_type, cast(r AS bigint) AS r,
         |  cast(z % 256 AS bigint) AS bucket,
         |  cast(count(*) AS bigint) AS cnt
         |FROM hv GROUP BY 1, 2, 3""".stripMargin),

    // Full FnvMix replay -> bucket/rank via exact integer CASE thresholds
    // (no floating log2) -> max registers -> scaled-integer harmonic sum in
    // HUGEINT -> one exact power-of-two division + one IEEE division. The
    // estimator constants are the SAME Scala doubles Spark embeds
    // (shortest-round-trip literals parse back to identical bits).
    "q_card_sketch" -> (
      s"""WITH $CardRegsCtes,
         |est AS (SELECT event_type,
         |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
         |    count(*) AS nb
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT event_type,
         |    cast(count(DISTINCT user_id) AS bigint) AS exact_users,
         |    cast(count(*) AS bigint) AS n_events
         |  FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  CAST(${Sketch.Numer} AS double) /
         |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
         |       AS double) / CAST(144115188075855872 AS double)) AS approx_users,
         |  cast(nb AS bigint) AS n_buckets_used,
         |  ex.exact_users, ex.n_events
         |FROM est e JOIN ex ON e.event_type = ex.event_type""".stripMargin
    ),

    // the streaming gate replays the SAME register chain — stream-final
    // state must equal the batch registers row for row
    "q_stream_sketch" -> (
      s"""WITH $CardRegsCtes
         |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(reg AS BIGINT) AS reg
         |FROM regs""".stripMargin
    ),

    // log-histogram quantile sketch: exact integer bucket map (CASE-chain
    // exponent, shifts), cross-multiply rank select, lower-bound answer —
    // next to the exact order statistic by the SAME rank rule
    "q_quantile_sketch" -> (
      s"""WITH $HistCtes,
         |$HistQuantileCtes,
         |vcc AS (SELECT source, v, count(*) AS c2 FROM vals GROUP BY 1, 2),
         |vcum AS (SELECT source, v,
         |    sum(c2) OVER (PARTITION BY source ORDER BY v) AS c,
         |    sum(c2) OVER (PARTITION BY source) AS n FROM vcc),
         |ext AS (SELECT source, q_label, min(v) AS exact_value
         |  FROM vcum CROSS JOIN t WHERE c * qd >= n * qn GROUP BY 1, 2)
         |SELECT a.source, a.q_label, a.approx_value,
         |  CAST(e.exact_value AS BIGINT) AS exact_value,
         |  CAST(e.exact_value - a.approx_value AS DOUBLE) /
         |    CAST(e.exact_value AS DOUBLE) AS rel_err
         |FROM apx a JOIN ext e ON a.source = e.source
         |  AND a.q_label = e.q_label""".stripMargin),

    // merge gate: the oracle histograms the WHOLE corpus in one pass; the
    // Spark side built two half-corpus histograms and merged — hash
    // equality proves the merge algebra cross-engine
    "q_hist_merge" -> (
      s"""WITH $HistCtes,
         |$HistQuantileCtes
         |SELECT source, q_label, approx_value FROM apx""".stripMargin),

    // the streaming twin compares at histogram grain: stream-final
    // complete-mode state must equal the batch bucket counts row for row
    "q_stream_hist" -> (
      s"""WITH $HistCtes
         |SELECT source, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(cnt AS BIGINT) AS cnt FROM hist""".stripMargin),

    // stream-static enrichment: the stream-final complete-mode state must
    // equal the batch join+agg (decimal-exact sum, cast to double at the
    // very end like q_bucket15)
    "q_stream_enrich" -> (
      """SELECT c_mktsegment, cast(count(*) AS bigint) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin),

    // stream-stream interval join: the final append output must equal the
    // batch interval join (watermark delay > join window + ordered replay
    // make eviction-before-match impossible)
    "q_stream_join" -> (
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // watermark-evicted outer rows must reconstruct the batch LEFT JOIN
    "q_stream_left_join" -> (
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // BOTH sides' watermark cleanup must reconstruct the batch FULL JOIN
    "q_stream_full_join" -> (
      """SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    "q_quality_checks" ->
      """WITH seeded AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 97 <> 0 THEN c_mktsegment END AS segment,
        |    c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer WHERE c_custkey <= 5
        |)
        |SELECT 'not_null' AS check_type, 'segment' AS target,
        |  cast(count(CASE WHEN segment IS NULL THEN 1 END) AS bigint) AS violations
        |FROM seeded
        |UNION ALL
        |SELECT 'not_null', 'c_custkey',
        |  cast(count(CASE WHEN c_custkey IS NULL THEN 1 END) AS bigint) FROM seeded
        |UNION ALL
        |SELECT 'unique', 'c_custkey',
        |  cast((SELECT count(*) FROM (
        |    SELECT c_custkey FROM seeded WHERE c_custkey IS NOT NULL
        |    GROUP BY 1 HAVING count(*) > 1)) AS bigint)
        |UNION ALL
        |SELECT 'accepted_values', 'segment',
        |  cast(count(CASE WHEN segment IS NOT NULL AND segment NOT IN
        |    ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY') THEN 1 END) AS bigint)
        |FROM seeded
        |UNION ALL
        |SELECT 'relationships', 'c_nationkey->nation20.n_nationkey',
        |  cast(count(*) AS bigint) FROM seeded
        |WHERE c_nationkey IS NOT NULL
        |  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 20)""".stripMargin,

    "q_repetition" -> (
      s"""SELECT doc_id,
         |  cast(len($TokSql) AS bigint) AS n_tokens,
         |  cast(len(list_distinct($TokSql)) AS bigint) AS n_distinct,
         |  CASE WHEN len($TokSql) > 0
         |    THEN cast(len($TokSql) - len(list_distinct($TokSql)) AS double)
         |      / cast(len($TokSql) AS double)
         |    ELSE 0.0 END AS dup_ratio
         |FROM documents""".stripMargin),

    // Gopher repetition signals: same n-gram strings as the pair family,
    // top counts per (doc, gram), the 5-gram coverage via islands merge
    "q_rep_signals" -> (
      s"""WITH inj AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN text ||
         |    ' lorem ipsum dolor sit amet lorem ipsum dolor sit amet'
         |  ELSE text END AS text FROM documents),
         |toks AS (SELECT doc_id, $TokSql AS tk FROM inj),
         |base AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens FROM toks),
         |g2 AS (SELECT doc_id, max(c) * 2 AS top2 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |g3 AS (SELECT doc_id, max(c) * 3 AS top3 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |g4 AS (SELECT doc_id, max(c) * 4 AS top4 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
         |      i -> array_to_string(list_slice(tk, i, i + 3), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |p5 AS (SELECT doc_id, u.i - 1 AS pos, u.s AS sh FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
         |    i -> struct_pack(i := i,
         |      s := array_to_string(list_slice(tk, i, i + 4), ' ')))) AS u
         |  FROM toks)),
         |d5 AS (SELECT doc_id, pos AS s_, pos + 5 AS e_ FROM p5
         |  QUALIFY count(*) OVER (PARTITION BY doc_id, sh) >= 2),
         |fl AS (SELECT *, CASE WHEN prev_max IS NULL OR prev_max < s_
         |    THEN 1 ELSE 0 END AS ni
         |  FROM (SELECT *, max(e_) OVER (PARTITION BY doc_id ORDER BY s_, e_
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |    FROM d5)),
         |isl AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s_, e_
         |    ROWS UNBOUNDED PRECEDING) AS g FROM fl),
         |cov AS (SELECT doc_id, sum(e - s) AS cov5 FROM (
         |  SELECT doc_id, g, min(s_) AS s, max(e_) AS e FROM isl GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g2.top2, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top2_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g3.top3, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top3_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g4.top4, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top4_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(cov.cov5, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS dup5_cover_frac
         |FROM base b
         |LEFT JOIN g2 ON b.doc_id = g2.doc_id
         |LEFT JOIN g3 ON b.doc_id = g3.doc_id
         |LEFT JOIN g4 ON b.doc_id = g4.doc_id
         |LEFT JOIN cov ON b.doc_id = cov.doc_id""".stripMargin),

    // oracle = full-data recompute: the incremental merge must be
    // indistinguishable from aggregating everything from scratch. Duplicate
    // (user_id, ts) rows are tie-broken by event_type on BOTH sides (Spark
    // min_by/max_by over struct(ts, val); here an explicit (ts, event_type)
    // ordering) so the comparison is deterministic.
    "q_incremental_merge" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS rf,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_type DESC) AS rl
        |  FROM events
        |), a AS (
        |  SELECT user_id, epoch_us(min(ts)) AS first_seen_us,
        |    epoch_us(max(ts)) AS last_seen_us
        |  FROM events GROUP BY user_id
        |)
        |SELECT a.user_id, a.first_seen_us, a.last_seen_us,
        |  f.event_type AS first_event_type, l.event_type AS last_event_type
        |FROM a JOIN r f ON a.user_id = f.user_id AND f.rf = 1
        |JOIN r l ON a.user_id = l.user_id AND l.rl = 1""".stripMargin,

    "q_visits" ->
      """WITH attempts AS (
        |  SELECT event_id,
        |    cast(user_id AS varchar) AS charger_id,
        |    cast(event_id % 2 AS varchar) AS port_id,
        |    cast(user_id % 20 AS varchar) AS location_id,
        |    ts AS start_ts,
        |    make_timestamp(epoch_us(ts) + (30 + event_id % 300) * 1000000) AS stop_ts,
        |    CASE WHEN event_type IN ('purchase', 'click')
        |         THEN 'T' || cast(user_id % 7 AS varchar) END AS id_tag,
        |    value
        |  FROM events
        |), chained AS (
        |  SELECT *,
        |    CASE WHEN lag(stop_ts) OVER w IS NULL
        |           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w) > 120000000
        |           OR (id_tag IS NOT NULL AND lag(id_tag) OVER w IS NOT NULL
        |               AND id_tag <> lag(id_tag) OVER w)
        |         THEN 1 ELSE 0 END AS chain_start
        |  FROM attempts WINDOW w AS (PARTITION BY charger_id, port_id ORDER BY start_ts, event_id)
        |), chains AS (
        |  SELECT *, sum(chain_start) OVER (PARTITION BY charger_id, port_id
        |    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS chain_seq
        |  FROM chained
        |), inferred AS (
        |  SELECT * REPLACE (max(id_tag) OVER (PARTITION BY charger_id, port_id, chain_seq) AS id_tag)
        |  FROM chains
        |), keyed AS (
        |  SELECT *,
        |    CASE WHEN id_tag IS NOT NULL
        |         THEN 'A' || chr(1) || location_id || chr(1) || id_tag
        |         ELSE 'U' || chr(1) || location_id || chr(1) || charger_id || chr(1) || port_id
        |    END AS grouping_key,
        |    CASE WHEN id_tag IS NOT NULL THEN 1800000000 ELSE 120000000 END AS window_us
        |  FROM inferred
        |), flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(stop_ts) OVER w2 IS NULL
        |           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w2) > window_us
        |         THEN 1 ELSE 0 END AS visit_start
        |  FROM keyed WINDOW w2 AS (PARTITION BY grouping_key ORDER BY start_ts, event_id)
        |), sessions AS (
        |  SELECT *, cast(sum(visit_start) OVER (PARTITION BY grouping_key
        |    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS bigint) AS visit_seq
        |  FROM flagged
        |)
        |SELECT grouping_key, visit_seq,
        |  epoch_us(min(start_ts)) AS visit_start_us,
        |  epoch_us(max(stop_ts)) AS visit_end_us,
        |  cast(count(*) AS bigint) AS charge_attempt_count,
        |  max(id_tag) AS id_tag, max(location_id) AS location_id,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM sessions GROUP BY grouping_key, visit_seq""".stripMargin,

    // exact oracle for the stubbed patch encoder: the stub accumulates byte
    // histogram stripes in double with one float rounding per stripe, which
    // DuckDB replicates via the same sequential folds (text is ASCII, so
    // char positions == UTF-8 byte offsets)
    "q_multimodal_patches" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |), patches AS (
        |  SELECT doc_id, text, n, unnest(generate_series(0, (n - 1) // 256)) AS patch_idx
        |  FROM d WHERE n > 0
        |), feats AS (
        |  SELECT doc_id, patch_idx,
        |    list_transform(generate_series(0, 7), s ->
        |      CASE WHEN patch_idx * 256 + 1 + s > least(n, (patch_idx + 1) * 256) THEN cast(0.0 AS real)
        |      ELSE cast(
        |        list_reduce(
        |          list_transform(
        |            generate_series(patch_idx * 256 + 1 + s, least(n, (patch_idx + 1) * 256), 8),
        |            j -> cast(ascii(substring(text, j, 1)) AS double) / 255.0),
        |          (acc, x) -> acc + x)
        |        AS real) END) AS features
        |  FROM patches
        |)
        |SELECT doc_id, cast(patch_idx AS bigint) AS patch_idx,
        |  sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(features, x -> cast(x AS double) * cast(x AS double))),
        |    (acc, x) -> acc + x)) AS feat_l2,
        |  list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(features, x -> cast(x AS double))), (acc, x) -> acc + x) AS feat_sum
        |FROM feats""".stripMargin,

    "q_knn_lsh_det" ->
      """WITH pl AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> cast((p * 31 + d * 17) % 7 - 3 AS double)) AS w
        |  FROM (SELECT unnest(range(0, 6)) AS p)
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), dots AS (
        |  SELECT e.vec_id, pl.p,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
        |  FROM emb e, pl
        |), codes AS (
        |  SELECT vec_id, cast(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END) AS bigint) AS bucket
        |  FROM dots GROUP BY vec_id
        |), wemb AS (
        |  SELECT e.vec_id, e.embedding, e.nv, k.bucket FROM emb e JOIN codes k USING (vec_id)
        |), cand AS (
        |  SELECT a.vec_id AS neighbor_id, b.vec_id AS probe_id,
        |    a.embedding AS va, a.nv AS na, b.embedding AS vb, b.nv AS nb
        |  FROM wemb a JOIN wemb b
        |    ON a.bucket = b.bucket AND b.vec_id < 8 AND a.vec_id <> b.vec_id
        |), cos AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN na * nb > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(va) + 1),
        |          i -> cast(va[i] AS double) * cast(vb[i] AS double))), (acc, x) -> acc + x)
        |      / (na * nb)
        |    ELSE 0.0 END AS cosine
        |  FROM cand
        |), ranked AS (
        |  SELECT *, cast(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS bigint) AS rank FROM cos
        |)
        |SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // full Lloyd trajectory replay: seeds = 8 smallest-id vectors; each
    // round is (sequential (x-c)^2 fold, argmin tie-broken on cell,
    // 2^-40-quantized component means); the THIRD assignment against the
    // twice-updated centroids is the emitted frame — identical IEEE ops in
    // identical order on both engines, so cells AND distances hash-match
    "q_kmeans" ->
      (s"""WITH $KMeansCteSql
         |SELECT vec_id, cell, d2 AS dist2 FROM af""".stripMargin),

    // full k-means|| construction replay: per-round FnvMix draws (seeds
    // 29/30/31), exact sequential distance folds, 2^-30-quantized φ sums,
    // the u·φ < ℓ·d² selections, nearest-candidate weights (argmin ties
    // toward the smaller candidate id), top-8 by (weight desc, id)
    "q_kmeans_pp" ->
      (s"""WITH emb AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS v
         |  FROM embeddings
         |),
         |${kmppDrawCtes("u0", 29)},
         |${kmppDrawCtes("u1", 30)},
         |${kmppDrawCtes("u2", 31)},
         |c0 AS (SELECT vec_id FROM u0u ORDER BY u, vec_id LIMIT 1),
         |cand0 AS (SELECT e.vec_id, e.v FROM emb e JOIN c0 USING (vec_id)),
         |d1 AS (SELECT e.vec_id, min($D2FoldSql) AS d2 FROM emb e, cand0 s GROUP BY 1),
         |q1 AS (SELECT vec_id, floor(d2 * 1073741824) / 1073741824 AS qd FROM d1),
         |p1 AS (SELECT sum(qd) AS phi FROM q1),
         |s1 AS (SELECT q1.vec_id FROM q1 JOIN u1u USING (vec_id) CROSS JOIN p1
         |  WHERE u1u.u * p1.phi < CAST(16 AS double) * q1.qd),
         |cand1 AS (SELECT * FROM cand0 UNION ALL
         |  SELECT e.vec_id, e.v FROM emb e JOIN s1 USING (vec_id)),
         |d2r AS (SELECT e.vec_id, min($D2FoldSql) AS d2 FROM emb e, cand1 s GROUP BY 1),
         |q2 AS (SELECT vec_id, floor(d2 * 1073741824) / 1073741824 AS qd FROM d2r),
         |p2 AS (SELECT sum(qd) AS phi FROM q2),
         |s2 AS (SELECT q2.vec_id FROM q2 JOIN u2u USING (vec_id) CROSS JOIN p2
         |  WHERE u2u.u * p2.phi < CAST(16 AS double) * q2.qd),
         |cand2 AS (SELECT * FROM cand1 UNION ALL
         |  SELECT e.vec_id, e.v FROM emb e JOIN s2 USING (vec_id)),
         |dfp AS (SELECT e.vec_id, s.vec_id AS cid, $D2FoldSql AS d2 FROM emb e, cand2 s),
         |af2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dfp)
         |  WHERE rn = 1),
         |wt AS (SELECT cid AS cell, count(*) AS w FROM af2 GROUP BY 1),
         |wc AS (SELECT c.vec_id AS cell, coalesce(wt.w, 0) AS w
         |  FROM cand2 c LEFT JOIN wt ON wt.cell = c.vec_id)
         |SELECT cast(row_number() OVER (ORDER BY w DESC, cell) AS bigint) AS rank,
         |  cast(cell AS bigint) AS cell, cast(w AS bigint) AS weight
         |FROM wc ORDER BY w DESC, cell LIMIT 8""".stripMargin),

    // PQ replay: per-subspace training (seeds → one quantized-mean round
    // → assignment), probe distance tables from the trained centroids,
    // ADC = fixed-order ((t0+t1)+t2)+t3 sum — training, encoding and
    // search all hash-exact
    "q_pq_adc" -> {
      val probeFold =
        "list_reduce(list_prepend(cast(0.0 AS double), " +
          "list_transform(range(1, len(p.v) + 1), " +
          "i -> (p.v[i] - w.w[i]) * (p.v[i] - w.w[i]))), (acc, x) -> acc + x)"
      val subs = (0 until 4).map(s => pqSubspaceCtes(s, s * 16 + 1, (s + 1) * 16, 4))
      val probes = (0 until 4).map(s =>
        s"""probe$s AS (SELECT v FROM sv$s ORDER BY vec_id LIMIT 1),
           |tab$s AS (SELECT w.cell, $probeFold AS d FROM w1$s w, probe$s p)""".stripMargin)
      s"""WITH emb AS (
         |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |  FROM embeddings
         |),
         |${subs.mkString(",\n")},
         |${probes.mkString(",\n")}
         |SELECT c0.vec_id,
         |  cast(c0.cell AS bigint) AS code_0, cast(c1.cell AS bigint) AS code_1,
         |  cast(c2.cell AS bigint) AS code_2, cast(c3.cell AS bigint) AS code_3,
         |  (((t0.d + t1.d) + t2.d) + t3.d) AS adc_d2
         |FROM code0 c0
         |JOIN code1 c1 USING (vec_id) JOIN code2 c2 USING (vec_id)
         |JOIN code3 c3 USING (vec_id)
         |JOIN tab0 t0 ON t0.cell = c0.cell JOIN tab1 t1 ON t1.cell = c1.cell
         |JOIN tab2 t2 ON t2.cell = c2.cell JOIN tab3 t3 ON t3.cell = c3.cell""".stripMargin
    },

    // IVF-PQ replay: deterministic coarse cells, residual construction,
    // per-subspace residual-PQ training, nprobe=2 cell pick, per-cell
    // probe-residual ADC tables, fixed-order sum, top-10
    "q_ivf_pq" -> (ivfPqAdcSqlCtes +
      """
        |SELECT vec_id, cast(cell AS bigint) AS cell,
        |  cast(code_0 AS bigint) AS code_0, cast(code_1 AS bigint) AS code_1,
        |  cast(code_2 AS bigint) AS code_2, cast(code_3 AS bigint) AS code_3,
        |  adc_d2
        |FROM adc ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin),

    // the re-rank replay: ADC top-40 cut (ties to the smaller vec_id, the
    // Spark TakeOrdered rule), exact sequential-fold distances against the
    // ORIGINAL double-cast vectors, exact-ordered top-10
    "q_ivf_pq_rerank" -> (ivfPqAdcSqlCtes +
      """,
        |cand40 AS (SELECT vec_id, cell, adc_d2 FROM adc
        |  ORDER BY adc_d2, vec_id LIMIT 40),
        |rr AS (SELECT c.vec_id, c.cell, c.adc_d2,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.v) + 1),
        |        i -> (e.v[i] - p.v[i]) * (e.v[i] - p.v[i]))),
        |      (acc, x) -> acc + x) AS exact_d2
        |  FROM cand40 c JOIN emb e USING (vec_id) CROSS JOIN pv p)
        |SELECT vec_id, cast(cell AS bigint) AS cell, adc_d2, exact_d2
        |FROM rr ORDER BY exact_d2, vec_id LIMIT 10""".stripMargin),

    // the SemDeDup composition over the SAME k-means replay: in-cell cosine
    // pairs (sequential double folds), recursive-CTE transitive closure
    // (the q_dedup_canonical shape), keep rule = max distance-to-centroid
    // (exact doubles from af), ties to the smallest id
    "q_semdedup" ->
      (s"""WITH RECURSIVE ${kMeans2Ctes(
             "SELECT greatest(8, (count(*) + 1023) // 1024) FROM embeddings")},
         |nrm AS (
         |  SELECT vec_id, sqrt(list_reduce(list_prepend(cast(0.0 AS double),
         |    list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
         |    (acc, x) -> acc + x)) AS nv
         |  FROM emb
         |), prs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM saf a JOIN saf b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id
         |  JOIN emb eb ON eb.vec_id = b.vec_id
         |  JOIN nrm na ON na.vec_id = a.vec_id
         |  JOIN nrm nb ON nb.vec_id = b.vec_id
         |  WHERE CASE WHEN na.nv * nb.nv > 0 THEN
         |      list_reduce(list_prepend(cast(0.0 AS double),
         |        list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * eb.v[i])),
         |        (acc, x) -> acc + x) / (na.nv * nb.nv)
         |    ELSE 0.0 END >= 0.3
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs
         |), reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
         |), comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY 1
         |), allv AS (
         |  SELECT saf.vec_id, saf.cell,
         |    coalesce(c.component, saf.vec_id) AS component, saf.d2
         |  FROM saf LEFT JOIN comp c ON saf.vec_id = c.id
         |)
         |SELECT vec_id, cell, component,
         |  (row_number() OVER (PARTITION BY component ORDER BY d2 DESC, vec_id)) = 1
         |    AS is_kept
         |FROM allv""".stripMargin),

    "q_semdedup_incremental" ->
      (s"""WITH ${kMeans2Ctes(
             "SELECT greatest(8, (count(*) + 1023) // 1024) FROM embeddings" +
               " WHERE vec_id % 5 <> 0",
             "vec_id % 5 <> 0")},
         |bemb AS (
         |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |  FROM embeddings WHERE vec_id % 5 = 0
         |), bd AS (
         |  SELECT e.vec_id, s.cell,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
         |  FROM bemb e, w2 s
         |), ba AS (
         |  SELECT vec_id, cell AS ccell FROM (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM bd)
         |  WHERE rn = 1
         |), bsd AS (
         |  SELECT e.vec_id, s.cell,
         |    list_reduce(list_prepend(cast(0.0 AS double),
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - s.w[i]) * (e.v[i] - s.w[i]))), (acc, x) -> acc + x) AS d2
         |  FROM bemb e JOIN ba ON e.vec_id = ba.vec_id
         |  JOIN sw2 s ON s.ccell = ba.ccell
         |), bsa AS (
         |  SELECT vec_id, cell FROM (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM bsd)
         |  WHERE rn = 1
         |), nc AS (
         |  SELECT vec_id, sqrt(list_reduce(list_prepend(cast(0.0 AS double),
         |    list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
         |    (acc, x) -> acc + x)) AS nv
         |  FROM emb
         |), nb AS (
         |  SELECT vec_id, sqrt(list_reduce(list_prepend(cast(0.0 AS double),
         |    list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
         |    (acc, x) -> acc + x)) AS nv
         |  FROM bemb
         |)
         |SELECT id_new, id_corpus, cosine FROM (
         |  SELECT b.vec_id AS id_new, c.vec_id AS id_corpus,
         |    CASE WHEN na.nv * nb2.nv > 0 THEN
         |      list_reduce(list_prepend(cast(0.0 AS double),
         |        list_transform(range(1, len(ec.v) + 1), i -> ec.v[i] * eb.v[i])),
         |        (acc, x) -> acc + x) / (na.nv * nb2.nv)
         |    ELSE 0.0 END AS cosine
         |  FROM bsa b JOIN saf c ON b.cell = c.cell
         |  JOIN bemb eb ON eb.vec_id = b.vec_id
         |  JOIN emb ec ON ec.vec_id = c.vec_id
         |  JOIN nc na ON na.vec_id = c.vec_id
         |  JOIN nb nb2 ON nb2.vec_id = b.vec_id
         |) WHERE cosine >= 0.3""".stripMargin),

    "q_knn_ivf_det" ->
      """WITH cent AS (
        |  SELECT c, list_transform(range(0, 64),
        |    d -> cast((c * 13 + d * 7) % 5 - 2 AS double)) AS w
        |  FROM (SELECT unnest(range(0, 8)) AS c)
        |), centn AS (
        |  SELECT c, w, sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(range(1, 65), i -> w[i] * w[i])), (acc, x) -> acc + x)) AS nc
        |  FROM cent
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), vc AS (
        |  SELECT e.vec_id, ct.c,
        |    CASE WHEN e.nv > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(e.embedding) + 1),
        |          i -> cast(e.embedding[i] AS double) * ct.w[i])), (acc, x) -> acc + x)
        |      / (e.nv * ct.nc)
        |    ELSE 0.0 END AS sim
        |  FROM emb e, centn ct
        |), sims AS (
        |  SELECT vec_id, list(sim ORDER BY c) AS sims FROM vc GROUP BY vec_id
        |), corpus AS (
        |  SELECT e.vec_id, e.embedding, e.nv,
        |    cast(list_indexof(s.sims, list_aggregate(s.sims, 'max')) AS bigint) AS cell
        |  FROM emb e JOIN sims s USING (vec_id)
        |), pc AS (
        |  SELECT s.vec_id, unnest(range(0, 8)) AS cpos, unnest(s.sims) AS csim
        |  FROM sims s WHERE s.vec_id < 8
        |), pr AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cpos) AS crank
        |  FROM pc
        |), psel AS (
        |  SELECT pr.vec_id, e.embedding, e.nv, pr.cpos + 1 AS cell
        |  FROM pr JOIN emb e ON pr.vec_id = e.vec_id
        |  WHERE pr.crank <= 2
        |), cand AS (
        |  SELECT c.vec_id AS neighbor_id, q.vec_id AS probe_id,
        |    c.embedding AS va, c.nv AS na, q.embedding AS vb, q.nv AS nb
        |  FROM corpus c JOIN psel q ON c.cell = q.cell AND c.vec_id <> q.vec_id
        |), cos AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN na * nb > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(va) + 1),
        |          i -> cast(va[i] AS double) * cast(vb[i] AS double))), (acc, x) -> acc + x)
        |      / (na * nb)
        |    ELSE 0.0 END AS cosine
        |  FROM cand
        |), ranked AS (
        |  SELECT *, cast(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS bigint) AS rank FROM cos
        |)
        |SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // incremental IVF det twin: identical replay to q_knn_ivf_det except
    // the index side holds only vec_id >= 8 (the probe batch is NOT in the
    // corpus index — the never-re-assign-the-corpus incremental shape)
    "q_knn_ivf_inc_det" ->
      """WITH cent AS (
        |  SELECT c, list_transform(range(0, 64),
        |    d -> cast((c * 13 + d * 7) % 5 - 2 AS double)) AS w
        |  FROM (SELECT unnest(range(0, 8)) AS c)
        |), centn AS (
        |  SELECT c, w, sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |    list_transform(range(1, 65), i -> w[i] * w[i])), (acc, x) -> acc + x)) AS nc
        |  FROM cent
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), vc AS (
        |  SELECT e.vec_id, ct.c,
        |    CASE WHEN e.nv > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(e.embedding) + 1),
        |          i -> cast(e.embedding[i] AS double) * ct.w[i])), (acc, x) -> acc + x)
        |      / (e.nv * ct.nc)
        |    ELSE 0.0 END AS sim
        |  FROM emb e, centn ct
        |), sims AS (
        |  SELECT vec_id, list(sim ORDER BY c) AS sims FROM vc GROUP BY vec_id
        |), corpus AS (
        |  SELECT e.vec_id, e.embedding, e.nv,
        |    cast(list_indexof(s.sims, list_aggregate(s.sims, 'max')) AS bigint) AS cell
        |  FROM emb e JOIN sims s USING (vec_id)
        |  WHERE e.vec_id >= 8
        |), pc AS (
        |  SELECT s.vec_id, unnest(range(0, 8)) AS cpos, unnest(s.sims) AS csim
        |  FROM sims s WHERE s.vec_id < 8
        |), pr AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cpos) AS crank
        |  FROM pc
        |), psel AS (
        |  SELECT pr.vec_id, e.embedding, e.nv, pr.cpos + 1 AS cell
        |  FROM pr JOIN emb e ON pr.vec_id = e.vec_id
        |  WHERE pr.crank <= 2
        |), cand AS (
        |  SELECT c.vec_id AS neighbor_id, q.vec_id AS probe_id,
        |    c.embedding AS va, c.nv AS na, q.embedding AS vb, q.nv AS nb
        |  FROM corpus c JOIN psel q ON c.cell = q.cell AND c.vec_id <> q.vec_id
        |), cos AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN na * nb > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(va) + 1),
        |          i -> cast(va[i] AS double) * cast(vb[i] AS double))), (acc, x) -> acc + x)
        |      / (na * nb)
        |    ELSE 0.0 END AS cosine
        |  FROM cand
        |), ranked AS (
        |  SELECT *, cast(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS bigint) AS rank FROM cos
        |)
        |SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_embed_neardup_det" ->
      s"""WITH geo AS (
        |  SELECT $BandBitsLadderSql AS bits
        |  FROM (SELECT count(*) AS n FROM embeddings)
        |), pl AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> cast((p * 31 + d * 17) % 7 - 3 AS double)) AS w
        |  FROM (SELECT unnest(range(0, 4 * bits)) AS p FROM geo)
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), dots AS (
        |  SELECT e.vec_id, pl.p,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
        |  FROM emb e, pl
        |), codes AS (
        |  SELECT vec_id, cast(p // bits AS bigint) AS band,
        |    cast(sum(CASE WHEN dp >= 0 THEN 1 << (p % bits) ELSE 0 END) AS bigint) AS bucket
        |  FROM dots CROSS JOIN geo GROUP BY vec_id, p // bits, bits
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM codes a JOIN codes b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |), cos AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN ea.nv * eb.nv > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(ea.embedding) + 1),
        |          i -> cast(ea.embedding[i] AS double) * cast(eb.embedding[i] AS double))),
        |        (acc, x) -> acc + x)
        |      / (ea.nv * eb.nv)
        |    ELSE 0.0 END AS cosine
        |  FROM cand JOIN emb ea ON cand.id_a = ea.vec_id
        |            JOIN emb eb ON cand.id_b = eb.vec_id
        |)
        |SELECT id_a, id_b, cosine FROM cos WHERE cosine >= 0.25""".stripMargin,

    "q_knn_brute" ->
      """WITH dots AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(generate_series(1, len(c.embedding)),
        |      i -> cast(c.embedding[i] AS double) * cast(p.embedding[i] AS double)),
        |      (acc, x) -> acc + x) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(c.embedding)),
        |      i -> cast(c.embedding[i] AS double) * cast(c.embedding[i] AS double)),
        |      (acc, x) -> acc + x)) AS nc,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(p.embedding)),
        |      i -> cast(p.embedding[i] AS double) * cast(p.embedding[i] AS double)),
        |      (acc, x) -> acc + x)) AS np
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 8 AND c.vec_id <> p.vec_id
        |), cos AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN nc * np > 0 THEN d / (nc * np) ELSE 0.0 END AS cosine
        |  FROM dots
        |), ranked AS (
        |  SELECT *, cast(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS bigint) AS rank
        |  FROM cos
        |)
        |SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_faulted_outages" ->
      """WITH spans AS (
        |  SELECT user_id, cast(event_id % 2 AS varchar) AS connector_id,
        |    ts AS from_ts, make_timestamp(epoch_us(ts) + 600000000) AS to_ts
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
        |  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id, connector_id
        |          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |        FROM spans)
        |), islands AS (
        |  SELECT user_id, connector_id, from_ts, to_ts,
        |    sum(new_island) OVER (PARTITION BY user_id, connector_id
        |      ORDER BY from_ts, to_ts ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged
        |), disjoint AS (
        |  SELECT user_id, connector_id, min(from_ts) AS from_ts, max(to_ts) AS to_ts
        |  FROM islands GROUP BY user_id, connector_id, island
        |), points AS (
        |  SELECT user_id, from_ts AS pt, 1 AS delta FROM disjoint
        |  UNION ALL
        |  SELECT user_id, to_ts, -1 FROM disjoint
        |), grouped AS (
        |  SELECT user_id, pt, sum(delta) AS delta FROM points GROUP BY user_id, pt
        |), sweep AS (
        |  SELECT user_id, pt AS segment_start, lead(pt) OVER w AS segment_end,
        |    sum(delta) OVER (PARTITION BY user_id ORDER BY pt ROWS UNBOUNDED PRECEDING) AS active
        |  FROM grouped WINDOW w AS (PARTITION BY user_id ORDER BY pt)
        |), full_seg AS (
        |  SELECT user_id, segment_start AS from_ts, segment_end AS to_ts
        |  FROM sweep WHERE segment_end IS NOT NULL AND active = 2
        |), f2 AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
        |  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id
        |          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |        FROM full_seg)
        |), i2 AS (
        |  SELECT user_id, from_ts, to_ts,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f2
        |)
        |SELECT user_id, epoch_us(min(from_ts)) AS from_us, epoch_us(max(to_ts)) AS to_us
        |FROM i2 GROUP BY user_id, island
        |HAVING max(to_ts) > min(from_ts)""".stripMargin,

    "q_sessionize" -> (SessSql +
      """
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  cast(is_start AS boolean) AS is_session_start, session_seq FROM sess""".stripMargin),

    "q_session_metrics" -> (SessSql +
      """
        |SELECT user_id, session_seq, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us, cast(count(*) AS bigint) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
        |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchases
        |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    "q_visit_rates" -> (SessSql +
      """, per_session AS (
        |  SELECT user_id, session_seq, cast(count(*) AS bigint) AS n_events,
        |    max(CASE WHEN rn = 1 THEN event_type END) = 'purchase' AS is_successful
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM sess)
        |  GROUP BY user_id, session_seq
        |), agg AS (
        |  SELECT user_id, cast(count(*) AS bigint) AS total_visits,
        |    cast(sum(CASE WHEN is_successful AND n_events = 1 THEN 1 ELSE 0 END) AS bigint) AS first_attempt_success,
        |    cast(sum(CASE WHEN is_successful AND n_events > 1 THEN 1 ELSE 0 END) AS bigint) AS troubled_success,
        |    cast(sum(CASE WHEN NOT is_successful THEN 1 ELSE 0 END) AS bigint) AS failed_visits,
        |    cast(sum(n_events) AS bigint) AS total_attempts
        |  FROM per_session GROUP BY user_id
        |)
        |SELECT user_id, total_visits, first_attempt_success, troubled_success, failed_visits,
        |  total_attempts,
        |  round(cast(first_attempt_success AS double) / total_visits, 6) AS first_attempt_success_rate,
        |  round(cast(troubled_success AS double) / total_visits, 6) AS troubled_success_rate,
        |  round(cast(failed_visits AS double) / total_visits, 6) AS failed_rate,
        |  round(cast(total_attempts AS double) / total_visits, 6) AS avg_attempts_per_visit
        |FROM agg""".stripMargin),

    // same metric definitions as the Spark semantic model, written out by
    // hand: visit metrics from the session rollup, average_uptime from the
    // shared uptime CTE chain, joined on the cohort dimension
    "q_metric_layer" -> (UptimeSql + ", " +
      SessSql.stripPrefix("WITH ") +
      """, per_session AS (
        |  SELECT user_id, session_seq, cast(count(*) AS bigint) AS n_events,
        |    max(CASE WHEN rn = 1 THEN event_type END) = 'purchase' AS is_successful
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM sess)
        |  GROUP BY user_id, session_seq
        |), vm AS (
        |  SELECT user_id % 10 AS cohort,
        |    cast(count(session_seq) AS bigint) AS total_visits,
        |    cast(sum(n_events) AS bigint) AS total_charge_attempts,
        |    cast(sum(CASE WHEN is_successful AND n_events = 1 THEN 1 ELSE 0 END) AS bigint)
        |      AS first_attempt_success,
        |    cast(sum(CASE WHEN is_successful AND n_events > 1 THEN 1 ELSE 0 END) AS bigint)
        |      AS troubled_success,
        |    cast(count(CASE WHEN is_successful THEN NULL ELSE session_seq END) AS bigint)
        |      AS failed_visits
        |  FROM per_session GROUP BY 1
        |), um AS (
        |  -- binary 2^-40 quantization: floor/×2^40/÷2^40 are exact IEEE ops,
        |  -- so the double sum is exact and order-free — matches Spark bitwise
        |  SELECT user_id % 10 AS cohort,
        |    sum(floor(uptime * 1099511627776) / 1099511627776)
        |      / cast(count(uptime) AS double) AS average_uptime
        |  FROM uptime GROUP BY 1
        |)
        |SELECT vm.cohort, total_visits, total_charge_attempts,
        |  CASE WHEN total_visits <> 0 THEN
        |    cast(total_charge_attempts AS double) / cast(total_visits AS double) END
        |    AS average_attempts_per_visit,
        |  first_attempt_success, troubled_success, failed_visits,
        |  CASE WHEN total_visits <> 0 THEN
        |    cast(first_attempt_success AS double) / cast(total_visits AS double) END
        |    AS first_attempt_success_rate,
        |  CASE WHEN total_visits <> 0 THEN
        |    cast(troubled_success AS double) / cast(total_visits AS double) END
        |    AS troubled_success_rate,
        |  CASE WHEN total_visits <> 0 THEN
        |    cast(failed_visits AS double) / cast(total_visits AS double) END
        |    AS failed_rate,
        |  um.average_uptime
        |FROM vm LEFT JOIN um ON vm.cohort = um.cohort""".stripMargin),

    "q_event_correlate" ->
      """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT s.event_id, s.user_id, s.ts, p.p_ts, p.p_event_id, p.p_value,
        |      row_number() OVER (PARTITION BY s.event_id ORDER BY p.p_ts, p.p_event_id) AS rn
        |      FROM s LEFT JOIN p ON s.user_id = p.user_id AND p.p_ts > s.ts
        |        AND epoch_us(p.p_ts) <= epoch_us(s.ts) + 604800000000)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, epoch_us(p_ts) AS matched_ts_us,
        |  p_event_id AS matched_event_id, p_value AS matched_value
        |FROM j WHERE rn = 1""".stripMargin,

    "q_interval_join" -> (SessSql +
      """, spans AS (
        |  SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
        |  FROM sess GROUP BY 1, 2
        |), e AS (SELECT user_id, ts AS err_ts FROM events WHERE event_type = 'error')
        |SELECT s.user_id, s.session_seq, cast(count(e.err_ts) AS bigint) AS n_errors_in_session
        |FROM spans s LEFT JOIN e ON s.user_id = e.user_id
        |  AND e.err_ts >= s.s_start AND e.err_ts <= s.s_end
        |GROUP BY 1, 2""".stripMargin),

    "q_group_fill" -> (SessSql +
      """
        |SELECT event_id, user_id, session_seq,
        |  CASE WHEN event_type = 'purchase'
        |    THEN 'tag_' || user_id || '_' || json_extract_string(props, '$.k') END AS id_tag,
        |  max(CASE WHEN event_type = 'purchase'
        |    THEN 'tag_' || user_id || '_' || json_extract_string(props, '$.k') END)
        |    OVER (PARTITION BY user_id, session_seq) AS inferred_id_tag
        |FROM sess""".stripMargin),

    "q_forward_fill" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events""".stripMargin,

    "q_asof_backward" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |), views AS (
        |  SELECT user_id, ts, event_id AS view_id, value AS view_value
        |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
        |)
        |, won AS (
        |  -- NOT an ASOF JOIN: DuckDB's ASOF leaves the winner unspecified when
        |  -- two right rows share (user_id, ts); the Spark side deterministically
        |  -- keeps the largest view_id (rightTieBreakCols), so the oracle picks
        |  -- the winning row explicitly (max ts, then max view_id)
        |  SELECT p.event_id, p.user_id, p.ts, v.ts AS vts, v.view_id, v.view_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC NULLS LAST, v.view_id DESC NULLS LAST) AS rn
        |  FROM purchases p LEFT JOIN views v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts
        |)
        |SELECT event_id, user_id,
        |  epoch_us(ts) AS ts_us,
        |  epoch_us(vts) AS asof_ts_us,
        |  view_id AS asof_view_id, view_value AS asof_view_value
        |FROM won WHERE rn = 1""".stripMargin,

    "q_fullouter_merge" ->
      """WITH s AS (
        |  SELECT user_id, cast(count(*) AS bigint) AS n_signups,
        |    epoch_us(min(ts)) AS first_signup_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), p AS (
        |  SELECT user_id, cast(count(*) AS bigint) AS n_purchases,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT coalesce(s.user_id, p.user_id) AS user_id,
        |  coalesce(s.n_signups, 0) AS n_signups, s.first_signup_us,
        |  coalesce(p.n_purchases, 0) AS n_purchases,
        |  coalesce(p.purchase_value, 0.0) AS purchase_value
        |FROM s FULL OUTER JOIN p ON s.user_id = p.user_id""".stripMargin,

    "q_gaps_islands" ->
      """WITH iv AS (SELECT user_id, ts AS from_ts, ts + INTERVAL 10 MINUTE AS to_ts FROM events),
        |x AS (SELECT user_id, from_ts, to_ts,
        |  max(to_ts) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv),
        |y AS (SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS ni FROM x),
        |z AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |    ROWS UNBOUNDED PRECEDING) AS island FROM y)
        |SELECT user_id, epoch_us(min(from_ts)) AS from_us, epoch_us(max(to_ts)) AS to_us
        |FROM z GROUP BY user_id, island""".stripMargin,

    "q_interval_sweep" ->
      """WITH iv AS (SELECT user_id, ts AS from_ts, ts + INTERVAL 10 MINUTE AS to_ts FROM events),
        |pts AS (SELECT user_id, from_ts AS pt, 1 AS delta FROM iv
        |        UNION ALL SELECT user_id, to_ts, -1 FROM iv),
        |g AS (SELECT user_id, pt, sum(delta) AS delta FROM pts GROUP BY 1, 2),
        |r AS (SELECT user_id, pt,
        |  cast(sum(delta) OVER (PARTITION BY user_id ORDER BY pt ROWS UNBOUNDED PRECEDING) AS bigint) AS active_count,
        |  lead(pt) OVER (PARTITION BY user_id ORDER BY pt) AS segment_end FROM g)
        |SELECT user_id, epoch_us(pt) AS segment_start_us, epoch_us(segment_end) AS segment_end_us,
        |  active_count FROM r WHERE segment_end IS NOT NULL""".stripMargin,

    "q_offline_gaps" ->
      """WITH b AS (SELECT min(ts) AS mstart, max(ts) AS mend FROM events),
        |g AS (SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS nxt
        |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
        |  UNION ALL
        |  SELECT g.user_id, b.mstart, g.ts FROM g, b WHERE g.prev IS NULL AND g.ts > b.mstart
        |  UNION ALL
        |  SELECT g.user_id, g.ts, b.mend FROM g, b WHERE g.nxt IS NULL AND g.ts < b.mend)
        |SELECT user_id, epoch_us(from_ts) AS from_us, epoch_us(to_ts) AS to_us,
        |  (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 AS gap_seconds
        |FROM gaps WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600""".stripMargin,

    "q_date_spine" ->
      """WITH s AS (SELECT cast(unnest(generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-12-31', INTERVAL 1 DAY)) AS date) AS d)
        |SELECT d AS date_id, cast(year(d) AS bigint) AS year, cast(month(d) AS bigint) AS month,
        |  cast(day(d) AS bigint) AS day, cast(dayofweek(d) + 1 AS bigint) AS day_of_week,
        |  cast(quarter(d) AS bigint) AS quarter,
        |  cast(date_trunc('week', d) AS date) AS week_start_date,
        |  cast(date_trunc('month', d) AS date) AS month_start_date,
        |  cast(date_trunc('quarter', d) AS date) AS quarter_start_date,
        |  cast(date_trunc('year', d) AS date) AS year_start_date
        |FROM s""".stripMargin,

    "q_daily_overlap" -> (SessSql +
      """, spans AS (
        |  SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
        |  FROM sess GROUP BY 1, 2
        |), days AS (
        |  SELECT user_id, s_start, s_end,
        |    cast(unnest(generate_series(cast(date_trunc('day', s_start) AS timestamp),
        |      cast(date_trunc('day', s_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
        |  FROM spans
        |), clipped AS (
        |  SELECT user_id, date_id,
        |    epoch_us(least(s_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |    epoch_us(greatest(s_start, cast(date_id AS timestamp))) AS overlap_us
        |  FROM days
        |)
        |SELECT user_id, date_id, cast(sum(overlap_us) AS double) / 60000000.0 AS active_minutes
        |FROM clipped WHERE overlap_us > 0 GROUP BY 1, 2""".stripMargin),

    "q_commissioned_daily" ->
      """WITH spans AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end FROM events GROUP BY 1),
        |days AS (
        |  SELECT user_id, c_start, c_end,
        |    cast(unnest(generate_series(cast(date_trunc('day', c_start) AS timestamp),
        |      cast(date_trunc('day', c_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
        |  FROM spans
        |), clipped AS (
        |  SELECT user_id, date_id,
        |    epoch_us(least(c_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |    epoch_us(greatest(c_start, cast(date_id AS timestamp))) AS overlap_us
        |  FROM days
        |)
        |SELECT user_id, date_id, overlap_us / 60000000.0 AS minutes
        |FROM clipped WHERE overlap_us > 0""".stripMargin,

    "q_uptime" -> (UptimeSql + "\nSELECT user_id, date_id, uptime FROM uptime"),
    "q_bucket_alloc" ->
      """WITH iv AS (
        |  SELECT user_id, ts AS from_ts,
        |    make_timestamp(epoch_us(ts) + 600000000) AS to_ts FROM events
        |), b AS (
        |  SELECT user_id, from_ts, to_ts,
        |    unnest(generate_series(
        |      make_timestamp(epoch_us(from_ts) // 900000000 * 900000000),
        |      make_timestamp(epoch_us(to_ts) // 900000000 * 900000000),
        |      INTERVAL 900 SECOND)) AS bucket_start
        |  FROM iv
        |), c AS (
        |  SELECT user_id, bucket_start,
        |    epoch_us(least(to_ts, bucket_start + INTERVAL 900 SECOND)) -
        |    epoch_us(greatest(from_ts, bucket_start)) AS overlap_us
        |  FROM b
        |)
        |SELECT user_id, epoch_us(bucket_start) AS bucket_us,
        |  cast(count(*) AS bigint) AS n_intervals,
        |  cast(sum(overlap_us) AS bigint) AS total_overlap_us
        |FROM c WHERE overlap_us > 0 GROUP BY 1, 2""".stripMargin,

    "q_bucket15" ->
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_start_us,
        |  event_type, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the streaming tumbling window's final state must equal the batch
    // bucketing — same oracle as q_bucket15
    "q_stream_bucket15" ->
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_start_us,
        |  event_type, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  coalesce(cast(sum(CASE WHEN event_type = 'click' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS click_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'view' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS view_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'purchase' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS purchase_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'signup' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS signup_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'error' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS error_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_user_aggs" ->
      """SELECT user_id, epoch_us(min(ts)) AS first_seen_us, epoch_us(max(ts)) AS last_seen_us,
        |  cast(count(*) AS bigint) AS n_events,
        |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchases,
        |  cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS bigint) AS n_errors,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_unnest_rollup" -> (
      s"""WITH toks AS (SELECT doc_id, unnest($TokSql) AS token FROM documents)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |  cast(count(DISTINCT token) AS bigint) AS n_distinct_tokens,
         |  cast(sum(length(token)) AS double) / count(*) AS avg_token_len
         |FROM toks GROUP BY 1""".stripMargin),

    // decimal sums leave as scaled bigints + ONE IEEE division (see the
    // Spark side: direct decimal→double casts diverge by 1 ulp between
    // engines once the scaled integer crosses 2^53)
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_qty,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2)))) * 10000
        |    AS bigint) AS double) / 10000.0 AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2))) *
        |    (cast(1 AS decimal(3,2)) + cast(l_tax AS decimal(3,2)))) * 1000000
        |    AS bigint) AS double) / 1000000.0 AS sum_charge,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) / count(*) AS avg_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) / count(*) AS avg_price,
        |  cast(sum(cast(l_discount AS decimal(3,2))) AS double) / count(*) AS avg_disc,
        |  cast(count(*) AS bigint) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,

    "q_topn_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_topk_custom" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_rank_ladder" ->
      """SELECT o_orderpriority, o_orderkey,
        |  cast(ntile(4) OVER w AS bigint) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  cast(dense_rank() OVER w AS bigint) AS drank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_qty,
        |  cast(count(*) AS bigint) AS n_rows,
        |  cast(grouping(l_returnflag) AS bigint) AS g_flag,
        |  cast(grouping(l_linestatus) AS bigint) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    "q_multi_join_agg" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2)))) AS double) AS revenue,
        |  cast(count(DISTINCT o_orderkey) AS bigint) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_json_unnest" ->
      """WITH e AS (SELECT event_type, value,
        |    cast(json_extract_string(props, '$.k') AS bigint) AS k FROM events),
        |p AS (SELECT event_type,
        |    '[{"m":"value","v":' || cast(value AS varchar) || '},{"m":"key","v":' ||
        |    cast(k AS varchar) || '}]' AS payload FROM e),
        |u AS (SELECT event_type, unnest(cast(payload AS JSON[])) AS j FROM p),
        |x AS (SELECT event_type, j->>'m' AS m, cast(j->>'v' AS double) AS v FROM u)
        |SELECT event_type, m, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(v AS decimal(18,2))) AS double) AS total_v, max(v) AS max_v
        |FROM x GROUP BY 1, 2""".stripMargin,

    "q_nested_unnest" ->
      """WITH e AS (SELECT event_type, value,
        |    cast(json_extract_string(props, '$.k') AS bigint) AS k FROM events),
        |p AS (SELECT event_type,
        |    '[{"grp":"a","sv":[{"m":"value","v":' || cast(value AS varchar) ||
        |    '},{"m":"key","v":' || cast(k AS varchar) ||
        |    '}]},{"grp":"b","sv":[{"m":"key2","v":' || cast(k AS varchar) ||
        |    '}]}]' AS payload FROM e),
        |u1 AS (SELECT event_type, unnest(cast(payload AS JSON[])) AS mv FROM p),
        |u2 AS (SELECT event_type, mv->>'grp' AS grp,
        |    unnest(cast(mv->'sv' AS JSON[])) AS s FROM u1),
        |x AS (SELECT event_type, grp, s->>'m' AS m, cast(s->>'v' AS double) AS v FROM u2)
        |SELECT event_type, grp, m, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(v AS decimal(18,2))) AS double) AS total_v,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM x GROUP BY 1, 2, 3""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // Bloom pruning has no false negatives => plain-join oracle
    "q_bloom_join" ->
      """SELECT o_orderstatus, l_returnflag, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2""".stripMargin,

    // the bucketed layout must be a no-op on join content
    "q_bucket_join" ->
      """SELECT o_orderpriority, l_returnflag, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |cast(count(*) AS bigint) AS dup_count FROM documents GROUP BY 1""".stripMargin,

    "q_text_stats" -> (
      s"""WITH t AS (SELECT doc_id, text, $TokSql AS tk FROM documents),
         |x AS (SELECT doc_id,
         |  cast(length(text) AS bigint) AS n_chars_calc,
         |  cast(len(tk) AS bigint) AS n_tokens,
         |  cast(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS bigint) AS punct_cnt,
         |  cast(len(list_filter(tk, t -> list_contains(['the','a','an','of','and','to','in','is','it','that'], t))) AS bigint) AS stopword_cnt,
         |  cast(length(text) AS double) AS n_chars_d
         |  FROM t)
         |SELECT doc_id, n_chars_calc, n_tokens, punct_cnt, stopword_cnt,
         |  round(least(cast(n_tokens AS double) / 100.0, 1.0) * 0.4 +
         |    (1.0 - CASE WHEN n_chars_d > 0 THEN punct_cnt / n_chars_d ELSE 0.0 END) * 0.3 +
         |    CASE WHEN n_tokens > 0 THEN cast(stopword_cnt AS double) / n_tokens ELSE 0.0 END * 0.3,
         |    6) AS quality
         |FROM x""".stripMargin),

    // NFC normalization + whitespace canonicalization: DuckDB's
    // nfc_normalize is the same UAX #15 algorithm as the JDK kernel; the
    // injected decomposed suffix is the shared TextNormSuffix constant
    "q_text_normalize" -> (
      s"""WITH inj AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$TextNormSuffix'
         |      ELSE text END AS t
         |  FROM documents),
         |n AS (SELECT doc_id, t, nfc_normalize(t) AS nfc FROM inj),
         |c AS (SELECT doc_id, t,
         |    trim(regexp_replace(nfc, '[ \t\r\n]+', ' ', 'g')) AS text_norm,
         |    CAST(length(t) - length(nfc) AS BIGINT) AS n_composed
         |  FROM n)
         |SELECT doc_id, text_norm,
         |  CAST(length(text_norm) AS BIGINT) AS norm_len,
         |  n_composed, text_norm <> t AS changed
         |FROM c""".stripMargin),

    // full DuckDB replay of the HTML pipeline: same page construction,
    // same non-content strip, same block split, same link extraction and
    // full URL-normalization replay: byte-identical in-plan URL corpus,
    // then the same RE2 splitter, lowering, default-port strip,
    // tracking-param filter + bytewise sort, path/fragment rules, and the
    // multi-label public-suffix registered-domain rule
    "q_url_normalize" -> (
      s"""WITH ${graft.operators.Url.SynthesizeUrlSql},
         |${graft.operators.Url.NormalizeSql}
         |SELECT doc_id, url, url_canonical, host, registered_domain,
         |  n_params_kept
         |FROM urlnorm""".stripMargin),

    // PageRank replay: the same u20-drawn edge set (every 4th candidate
    // dropped), then 2 power iterations with identical IEEE op order —
    // init 1/N, 2^-40-quantized contribution/dangling sums,
    // (1-d)/N + d*(S + D/N) update; ranks match hash-exact
    "q_pagerank" -> {
      import graft.sources.ZipfCorpus.u20Sql
      s"""WITH ecnt AS (SELECT count(*) AS n_docs FROM documents),
         |eraw AS (SELECT doc_id, n_docs,
         |    'pr:' || CAST(i AS varchar) || ':' || CAST(doc_id AS varchar) AS ekey
         |  FROM documents CROSS JOIN ecnt
         |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
         |  WHERE doc_id % 10 <> 0 AND (doc_id + i) % 4 <> 0),
         |predges AS (SELECT doc_id AS src,
         |    (${u20Sql("ekey")} * n_docs) >> 20 AS dst
         |  FROM eraw),
         |${graft.operators.Graph.pageRankCtes("predges", iters = 2, damping = 0.85)}
         |SELECT node, rank FROM pr_r2""".stripMargin
    },

    // text normalization, same keep rule — every regex/threshold pinned
    "q_html_extract" -> (
      s"""WITH ${Html.SynthesizePageSql},
         |${Html.blocksCoreSql()}
         |SELECT doc_id, block_idx, btext AS text, n_chars, n_words,
         |  link_chars, round(link_density, 6) AS link_density,
         |  cast(CASE WHEN kept THEN 1 ELSE 0 END AS bigint) AS kept
         |FROM bk""".stripMargin),

    "q_html_clean" -> (
      s"""WITH ${Html.SynthesizePageSql},
         |${Html.blocksCoreSql()},
         |dg AS (SELECT doc_id,
         |    string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx)
         |      AS text,
         |    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint)
         |      AS n_blocks_kept,
         |    cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS bigint)
         |      AS n_blocks_dropped
         |  FROM bk GROUP BY 1
         |  HAVING sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0),
         |tok AS (SELECT *, cast(len(list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> len(t) > 0))
         |    AS bigint) AS n_tokens FROM dg),
         |r AS (SELECT *, list_filter([
         |    CASE WHEN n_tokens < 20 THEN 'too_short' END,
         |    CASE WHEN n_blocks_dropped >= 10 THEN 'boiler_heavy' END],
         |    x -> x IS NOT NULL) AS rl FROM tok)
         |SELECT doc_id, text, n_blocks_kept, n_blocks_dropped, n_tokens,
         |  coalesce(array_to_string(rl, ','), '') AS reasons,
         |  cast(CASE WHEN len(rl) = 0 THEN 1 ELSE 0 END AS bigint) AS keep
         |FROM r""".stripMargin),

    // the full chain replay: extraction (q_html_clean's dg), lang-id over
    // the CLEANED text (q_lang_id's hit ladder), the two quality rules,
    // the fingerprint normalization, min-id dedup winner per fingerprint
    "q_curation_pipeline" -> {
      val langLists = Text.Langs.map { case (l, words) =>
        l -> words.map(w => s"'$w'").mkString("[", ",", "]")
      }
      val hitCols = langLists.map { case (l, arr) =>
        s"cast(len(list_filter(tk, t -> list_contains($arr, t))) AS bigint) AS ${l}_hits"
      }.mkString(",\n  ")
      val names = Text.Langs.map(_._1)
      val best = "greatest(" + names.map(l => s"${l}_hits").mkString(", ") + ")"
      val pick = names.reverse.foldLeft("'und'") { (rest, l) =>
        s"CASE WHEN ${l}_hits = best THEN '$l' ELSE $rest END"
      }
      s"""WITH ${Html.SynthesizePageSql},
         |${Html.blocksCoreSql()},
         |dg AS (SELECT doc_id,
         |    string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx)
         |      AS text,
         |    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint)
         |      AS n_blocks_kept,
         |    cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS bigint)
         |      AS n_blocks_dropped
         |  FROM bk GROUP BY 1
         |  HAVING sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0),
         |ctok AS (SELECT *, cast(len($TokSql) AS bigint) AS n_tokens,
         |    $TokSql AS tk FROM dg),
         |${langClassifyCtes("dg")},
         |ch AS (SELECT doc_id,
         |  $hitCols
         |  FROM ctok),
         |cb AS (SELECT *, $best AS best FROM ch),
         |clang AS (SELECT doc_id,
         |    CASE WHEN best > 0 THEN $pick ELSE 'und' END AS predicted_lang
         |  FROM cb),
         |cq AS (SELECT ctok.doc_id, ctok.text, ctok.n_tokens,
         |    ctok.n_blocks_kept, ctok.n_blocks_dropped, clang.predicted_lang,
         |    mlpred.lang AS lang_ml
         |  FROM ctok JOIN clang USING (doc_id) JOIN mlpred USING (doc_id)
         |  WHERE NOT (n_tokens < 20) AND NOT (n_blocks_dropped >= 10)),
         |cfp AS (SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint FROM cq),
         |cwin AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS w
         |  FROM cfp)
         |SELECT doc_id, predicted_lang, lang_ml, n_tokens, n_blocks_kept,
         |  n_blocks_dropped, fingerprint
         |FROM cwin WHERE doc_id = w""".stripMargin
    },

    "q_lang_id" -> {
      val langLists = Text.Langs.map { case (l, words) =>
        l -> words.map(w => s"'$w'").mkString("[", ",", "]")
      }
      val hitCols = langLists.map { case (l, arr) =>
        s"cast(len(list_filter(tk, t -> list_contains($arr, t))) AS bigint) AS ${l}_hits"
      }.mkString(",\n  ")
      val names = Text.Langs.map(_._1)
      val best = "greatest(" + names.map(l => s"${l}_hits").mkString(", ") + ")"
      val pick = names.reverse.foldLeft("'und'") { (rest, l) =>
        s"CASE WHEN ${l}_hits = best THEN '$l' ELSE $rest END"
      }
      s"""WITH t AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |h AS (SELECT doc_id,
         |  $hitCols
         |  FROM t),
         |b AS (SELECT *, $best AS best FROM h)
         |SELECT doc_id, ${names.map(l => s"${l}_hits").mkString(", ")},
         |  CASE WHEN best > 0 THEN $pick ELSE 'und' END AS predicted_lang
         |FROM b""".stripMargin
    },

    "q_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint FROM documents""".stripMargin,

    "q_simhash_md5" -> (
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh),
         |hs AS (SELECT id, md5(shingle) AS m FROM posting),
         |hv AS (SELECT id,
         |  cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |    list_transform(split(substring(m, 1, 8), ''),
         |      c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |    (acc, x) -> acc * 16 + x) AS bigint) AS hi,
         |  cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |    list_transform(split(substring(m, 9, 8), ''),
         |      c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |    (acc, x) -> acc * 16 + x) AS bigint) AS lo
         |  FROM hs),
         |bits AS (SELECT id, unnest(range(0, 64)) AS b,
         |  unnest(list_transform(range(0, 64), b ->
         |    CASE WHEN b < 32 THEN (lo >> b) & 1 ELSE (hi >> (b - 32)) & 1 END)) AS bit
         |  FROM hv),
         |bs AS (SELECT id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
         |chunks AS (SELECT id, b // 16 AS cidx,
         |    cast(sum(CASE WHEN s > 0 THEN 1 << (b % 16) ELSE 0 END) AS bigint) AS piece
         |  FROM bs GROUP BY 1, 2),
         |fp AS (SELECT id, list(piece ORDER BY cidx) AS cs FROM chunks GROUP BY 1),
         |banded AS (SELECT id, cs, u.c AS cidx, cs[u.c + 1] AS piece
         |  FROM fp, (SELECT unnest(range(0, 4)) AS c) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.cs AS cs_a, b.cs AS cs_b
         |  FROM banded a JOIN banded b
         |    ON a.cidx = b.cidx AND a.piece = b.piece AND a.id < b.id),
         |h AS (SELECT id_a, id_b,
         |    bit_count(xor(cs_a[1], cs_b[1])) + bit_count(xor(cs_a[2], cs_b[2])) +
         |    bit_count(xor(cs_a[3], cs_b[3])) + bit_count(xor(cs_a[4], cs_b[4])) AS hamming
         |  FROM p)
         |SELECT id_a, id_b, cast(min(hamming) AS bigint) AS hamming FROM h
         |GROUP BY 1, 2 HAVING min(hamming) <= 3""".stripMargin),

    // full fast-path replay: FnvMix per (shingle, permutation) — one FNV
    // fold per shingle, then the splitmix finalizer per permutation —
    // signature mins compared as SIGNED 64-bit like Spark's LongType
    "q_minhash_lsh" -> minhashLshReplaySql(ShinglePostingSql),

    // incremental batch-vs-corpus finisher over the same banding replay
    "q_dedup_incremental" -> minhashAgainstReplaySql(ShinglePostingSql),

    // incremental EXACT dedup: the q_fingerprint key, corpus index as a
    // grouped CTE, batch decisions via left join + per-fingerprint window
    "q_dedup_exact_inc" ->
      """WITH fpall AS (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |idx AS (SELECT fingerprint, min(doc_id) AS corpus_keep
        |  FROM fpall WHERE doc_id % 5 <> 0 GROUP BY 1),
        |b AS (SELECT doc_id, fingerprint,
        |    min(doc_id) OVER (PARTITION BY fingerprint) AS batch_keep
        |  FROM fpall WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, b.fingerprint,
        |  CASE WHEN idx.corpus_keep IS NOT NULL THEN 'dup_corpus'
        |       WHEN b.batch_keep < b.doc_id THEN 'dup_batch'
        |       ELSE 'new' END AS status,
        |  coalesce(idx.corpus_keep,
        |    CASE WHEN b.batch_keep < b.doc_id THEN b.batch_keep
        |         ELSE b.doc_id END) AS keep_id
        |FROM b LEFT JOIN idx USING (fingerprint)""".stripMargin,

    // the same full replay over the generated open-vocabulary corpus
    "q_minhash_lsh_zipf" -> minhashLshReplaySql(
      s"""${graft.sources.ZipfCorpus.ZdocsSql},
         |${shinglePostingSql("zdocs")}""".stripMargin),

    // the dedup-quality evaluation row (see dedupEvalSql)
    "q_dedup_eval" -> dedupEvalSql,

    // LSH banding plan: divisor splits of 32, the same ilog2q ladder on
    // b, the (ilog2q(7) − ilog2q(10)) constant inlined exactly
    "q_lsh_plan" -> {
      def ilog2qConst(v: Long): Long = {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
        e.toLong * 65536L + (((v - (1L << e)) << 16) >> e)
      }
      val lt = ilog2qConst(7L) - ilog2qConst(10L)
      val eCase = (62 to 1 by -1)
        .map(k => s"WHEN b >= ${1L << k} THEN $k").mkString(" ")
      s"""WITH bp AS (SELECT b, 32 // b AS r
         |  FROM (SELECT unnest(range(1, 33)) AS b) t WHERE 32 % b = 0),
         |be AS (SELECT b, r, CASE $eCase ELSE 0 END AS e FROM bp),
         |sc AS (SELECT b AS bands, r AS rows_per_band,
         |    abs(r * ($lt) + (e * 65536 +
         |      (((b - (CAST(1 AS BIGINT) << e)) << 16) >> e))) AS score_q
         |  FROM be)
         |SELECT bands, rows_per_band, cast(score_q AS bigint) AS score_q,
         |  (row_number() OVER (ORDER BY score_q * bands, bands DESC) = 1) AS chosen
         |FROM sc""".stripMargin
    },

    // FnvMix with seed 0 (the +seed·golden term vanishes), bits extracted
    // from the unsigned value — identical raw bits to Spark's signed long
    "q_simhash" -> (
      s"""WITH $ShinglePostingSql,
         |folded AS (SELECT id, $FnvFoldSql AS h FROM posting),
         |z1 AS (SELECT id, ${mulModSql("xor(h, h >> 30)", Mix1B)} AS z FROM folded),
         |z2 AS (SELECT id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT id, xor(z, z >> 31) AS z FROM z2),
         |bits AS (SELECT id, unnest(range(0, 64)) AS b,
         |    unnest(list_transform(range(0, 64), b -> CAST((z >> b) & 1 AS BIGINT))) AS bit
         |  FROM hv),
         |bs AS (SELECT id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
         |-- SimHashAgg resolves a tied vote (sum == 0) to bit 1, so >= here
         |chunks AS (SELECT id, b // 16 AS cidx,
         |    cast(sum(CASE WHEN s >= 0 THEN 1 << (b % 16) ELSE 0 END) AS bigint) AS piece
         |  FROM bs GROUP BY 1, 2),
         |fp AS (SELECT id, list(piece ORDER BY cidx) AS cs FROM chunks GROUP BY 1),
         |banded AS (SELECT id, cs, u.c AS cidx, cs[u.c + 1] AS piece
         |  FROM fp, (SELECT unnest(range(0, 4)) AS c) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.cs AS cs_a, b.cs AS cs_b
         |  FROM banded a JOIN banded b
         |    ON a.cidx = b.cidx AND a.piece = b.piece AND a.id < b.id),
         |hm AS (SELECT id_a, id_b,
         |    bit_count(xor(cs_a[1], cs_b[1])) + bit_count(xor(cs_a[2], cs_b[2])) +
         |    bit_count(xor(cs_a[3], cs_b[3])) + bit_count(xor(cs_a[4], cs_b[4])) AS hamming
         |  FROM p)
         |SELECT id_a, id_b, cast(min(hamming) AS bigint) AS hamming FROM hm
         |GROUP BY 1, 2 HAVING min(hamming) <= 3""".stripMargin),

    // fast-path LSH ANN replay: portable integer-derived hyperplanes —
    // the QUADRATIC-mod family (k = p·64 + d + 42·83492791 = p·64 + d +
    // 3506697222, then (k²·A + k·B) mod M — see Similarity.hyperplanes for
    // why the linear fold is a correlated lattice); multi-probe = the
    // probe's bucket XOR each 1-bit flip
    "q_knn_lsh" ->
      """WITH pl AS (
        |  SELECT p, list_transform(
        |    list_transform(range(0, 64), d -> (p * 64 + d + 3506697222) % 1000003),
        |    k -> cast((k * k % 1000003 * 73856093 + k * 19349663) % 1000003 AS double)
        |      / 1000003.0 - 0.5) AS w
        |  FROM (SELECT unnest(range(0, 6)) AS p)
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), dots AS (
        |  SELECT e.vec_id, pl.p,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
        |  FROM emb e, pl
        |), codes AS (
        |  SELECT vec_id, cast(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END) AS bigint) AS bucket
        |  FROM dots GROUP BY vec_id
        |), wemb AS (
        |  SELECT e.vec_id, e.embedding, e.nv, k.bucket FROM emb e JOIN codes k USING (vec_id)
        |), probes AS (
        |  SELECT w.vec_id, w.embedding, w.nv, xor(w.bucket, f.f) AS bucket
        |  FROM wemb w, (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS f) f
        |  WHERE w.vec_id < 8
        |), cand AS (
        |  SELECT a.vec_id AS neighbor_id, b.vec_id AS probe_id,
        |    a.embedding AS va, a.nv AS na, b.embedding AS vb, b.nv AS nb
        |  FROM wemb a JOIN probes b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |), cos AS (
        |  SELECT probe_id, neighbor_id,
        |    CASE WHEN na * nb > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(va) + 1),
        |          i -> cast(va[i] AS double) * cast(vb[i] AS double))), (acc, x) -> acc + x)
        |      / (na * nb)
        |    ELSE 0.0 END AS cosine
        |  FROM cand
        |), ranked AS (
        |  SELECT *, cast(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS bigint) AS rank FROM cos
        |)
        |SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // graph-ANN replay: NSW build + unrolled beam search (see
    // knnGraphOracleSql)
    "q_knn_graph" -> knnGraphOracleSql,

    // incremental graph ANN: the same replay with the index built on the
    // corpus side only and the batch supplying the probes
    "q_knn_graph_inc" -> knnGraphOracleSqlFor("vec_id >= 8", "vec_id < 8"),

    // fast-path banded near-dup replay: 4 bands × bandBits planes, portable
    // QUADRATIC-mod hyperplanes (k = p·64 + d + 7·83492791 = p·64 + d +
    // 584449537 — see q_knn_lsh / Similarity.hyperplanes)
    "q_embed_neardup" ->
      s"""WITH geo AS (
        |  SELECT $BandBitsLadderSql AS bits
        |  FROM (SELECT count(*) AS n FROM embeddings)
        |), pl AS (
        |  SELECT p, list_transform(
        |    list_transform(range(0, 64), d -> (p * 64 + d + 584449537) % 1000003),
        |    k -> cast((k * k % 1000003 * 73856093 + k * 19349663) % 1000003 AS double)
        |      / 1000003.0 - 0.5) AS w
        |  FROM (SELECT unnest(range(0, 4 * bits)) AS p FROM geo)
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), dots AS (
        |  SELECT e.vec_id, pl.p,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
        |  FROM emb e, pl
        |), codes AS (
        |  SELECT vec_id, cast(p // bits AS bigint) AS band,
        |    cast(sum(CASE WHEN dp >= 0 THEN 1 << (p % bits) ELSE 0 END) AS bigint) AS bucket
        |  FROM dots CROSS JOIN geo GROUP BY vec_id, p // bits, bits
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM codes a JOIN codes b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |), cos AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN ea.nv * eb.nv > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(ea.embedding) + 1),
        |          i -> cast(ea.embedding[i] AS double) * cast(eb.embedding[i] AS double))),
        |        (acc, x) -> acc + x)
        |      / (ea.nv * eb.nv)
        |    ELSE 0.0 END AS cosine
        |  FROM cand JOIN emb ea ON cand.id_a = ea.vec_id
        |            JOIN emb eb ON cand.id_b = eb.vec_id
        |)
        |SELECT id_a, id_b, cosine FROM cos WHERE cosine >= 0.25""".stripMargin,

    // same banding replay, split batch/corpus at the candidate join —
    // codes are per-vector, so banding all and splitting equals banding
    // the two filtered inputs separately (what the Spark side does)
    "q_embed_incremental" ->
      s"""WITH geo AS (
        |  SELECT $BandBitsLadderSql AS bits
        |  FROM (SELECT count(*) AS n FROM embeddings)
        |), pl AS (
        |  SELECT p, list_transform(
        |    list_transform(range(0, 64), d -> (p * 64 + d + 584449537) % 1000003),
        |    k -> cast((k * k % 1000003 * 73856093 + k * 19349663) % 1000003 AS double)
        |      / 1000003.0 - 0.5) AS w
        |  FROM (SELECT unnest(range(0, 4 * bits)) AS p FROM geo)
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> cast(embedding[i] AS double) * cast(embedding[i] AS double))),
        |      (acc, x) -> acc + x)) AS nv
        |  FROM embeddings
        |), dots AS (
        |  SELECT e.vec_id, pl.p,
        |    list_reduce(list_prepend(cast(0.0 AS double),
        |      list_transform(range(1, len(e.embedding) + 1),
        |        i -> cast(e.embedding[i] AS double) * pl.w[i])), (acc, x) -> acc + x) AS dp
        |  FROM emb e, pl
        |), codes AS (
        |  SELECT vec_id, cast(p // bits AS bigint) AS band,
        |    cast(sum(CASE WHEN dp >= 0 THEN 1 << (p % bits) ELSE 0 END) AS bigint) AS bucket
        |  FROM dots CROSS JOIN geo GROUP BY vec_id, p // bits, bits
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_new, b.vec_id AS id_corpus
        |  FROM codes a JOIN codes b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
        |), cos AS (
        |  SELECT id_new, id_corpus,
        |    CASE WHEN ea.nv * eb.nv > 0 THEN
        |      list_reduce(list_prepend(cast(0.0 AS double),
        |        list_transform(range(1, len(ea.embedding) + 1),
        |          i -> cast(ea.embedding[i] AS double) * cast(eb.embedding[i] AS double))),
        |        (acc, x) -> acc + x)
        |      / (ea.nv * eb.nv)
        |    ELSE 0.0 END AS cosine
        |  FROM cand JOIN emb ea ON cand.id_new = ea.vec_id
        |            JOIN emb eb ON cand.id_corpus = eb.vec_id
        |)
        |SELECT id_new, id_corpus, cosine FROM cos WHERE cosine >= 0.25""".stripMargin,

    // md5-hex folded to a 64-bit unsigned decimal via hugeint — matches
    // Spark's conv(substring(md5(x),1,16),16,10) digit-for-digit
    "q_minhash_md5" -> (
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh),
         |hashed AS (SELECT id,
         |  list_transform(range(0, 16), i ->
         |    cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |      list_transform(split(substring(md5(cast(i AS varchar) || '|' || shingle), 1, 16), ''),
         |        c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |      (acc, x) -> acc * 16 + x) AS decimal(20,0))) AS hs
         |  FROM posting),
         |hx AS (SELECT id, unnest(range(0, 16)) AS i, unnest(hs) AS h FROM hashed),
         |hm AS (SELECT id, i, min(h) AS m FROM hx GROUP BY 1, 2),
         |sigs AS (SELECT id, list(m ORDER BY i) AS sig FROM hm GROUP BY 1),
         |banded AS (SELECT id, sig, u.b AS band,
         |    array_to_string(list_transform(list_slice(sig, u.b * 4 + 1, u.b * 4 + 4),
         |      v -> cast(v AS varchar)), ',') AS bucket
         |  FROM sigs, (SELECT unnest(range(0, 4)) AS b) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |est AS (SELECT id_a, id_b,
         |    cast(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) AS double) / 16
         |      AS est_jaccard
         |  FROM p)
         |SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est
         |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin),

    // near-dup pairs → transitive closure (recursive CTE) → min reachable
    // id per component — the oracle computes the same canonical keeper the
    // label-propagation operator converges to
    "q_dedup_canonical" -> (
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |capn AS (SELECT greatest(128, (16384 * count(DISTINCT doc_id)) // count(*)) AS cap
         |  FROM posting),
         |rare AS (SELECT shingle FROM posting GROUP BY 1
         |  HAVING count(*) <= (SELECT cap FROM capn)),
         |f0 AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM f0 GROUP BY 1),
         |f AS (SELECT f0.doc_id, f0.shingle, sizes.set_size FROM f0 JOIN sizes USING (doc_id)),
         |cnt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.set_size AS sa, b.set_size AS sb,
         |    count(*) AS inter
         |  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |pairs AS (SELECT id_a, id_b FROM cnt
         |  WHERE cast(inter AS double) / (sa + sb - inter) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
         |),
         |comp AS (SELECT id, min(r) AS canonical FROM reach GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(c.canonical, d.doc_id) AS canonical_id,
         |  coalesce(c.canonical, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin),

    "q_ngram_jaccard" -> (
      s"""WITH ${ngramPairCoreSql("documents")}
         |$JaccardSelectSql""".stripMargin),

    // identical pair core as q_ngram_jaccard; only the scorer differs
    // (min-size denominator), so the two oracles share the CTE chain
    "q_containment" -> (
      s"""WITH ${ngramPairCoreSql("documents")}
         |$ContainmentSelectSql""".stripMargin),

    // the SAME pair-family oracles replayed over the generated open-
    // vocabulary corpus (graft.sources.ZipfCorpus.ZdocsSql builds it
    // byte-identically in DuckDB) — the realistic-shape gate the dense
    // driver corpus cannot provide
    "q_ngram_jaccard_zipf" -> (
      s"""WITH ${graft.sources.ZipfCorpus.ZdocsSql},
         |${ngramPairCoreSql("zdocs")}
         |$JaccardSelectSql""".stripMargin),

    "q_containment_zipf" -> (
      s"""WITH ${graft.sources.ZipfCorpus.ZdocsSql},
         |${ngramPairCoreSql("zdocs")}
         |$ContainmentSelectSql""".stripMargin),

    // arithmetic re-derivation of Multimodal.syntheticImage's parameters
    // and serialized byte counts — the Spark side must recover them by
    // PARSING the constructed container bytes (see the queries entry)
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  cast(CASE doc_id % 4 WHEN 0 THEN 45
        |    WHEN 1 THEN CASE WHEN doc_id % 5 = 0 THEN 35 ELSE 41 END
        |    WHEN 2 THEN 14 ELSE 54 END AS bigint) AS n_bytes,
        |  cast(16 + (doc_id * 3) % 1000 AS bigint) AS width,
        |  cast(16 + (doc_id * 7) % 800 AS bigint) AS height,
        |  cast(CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END
        |    WHEN 1 THEN CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END
        |    WHEN 2 THEN 3
        |    ELSE CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END END AS bigint)
        |    AS channels,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'gif' ELSE 'bmp' END AS format
        |FROM documents""".stripMargin,

    // arithmetic re-derivation of syntheticMedia's parameters and
    // serialized byte counts — WAV 44 + data bytes, the MP4 box trees'
    // layout constants (423 video / 373 audio), the corrupt row's 6 bytes;
    // WAV duration replays the parser's exact integer division
    "q_multimodal_av" ->
      """WITH p AS (SELECT doc_id,
        |    doc_id % 6 AS fmt,
        |    1 + doc_id % 2 AS ch,
        |    8000 + (doc_id * 37) % 32000 AS rate,
        |    8 + (doc_id % 2) * 8 AS bits,
        |    (doc_id * 5) % 256 AS db,
        |    16 + (doc_id * 3) % 1920 AS w,
        |    16 + (doc_id * 7) % 1080 AS h,
        |    500 + (doc_id * 11) % 60000 AS durms
        |  FROM documents)
        |SELECT doc_id,
        |  cast(CASE fmt WHEN 0 THEN 44 + db WHEN 1 THEN 423 WHEN 2 THEN 373
        |    WHEN 4 THEN 91 WHEN 5 THEN 86 ELSE 6 END AS bigint) AS n_bytes,
        |  CASE WHEN fmt = 0 THEN 'wav' WHEN fmt IN (1, 2) THEN 'mp4'
        |    WHEN fmt IN (4, 5) THEN 'mkv' END AS format,
        |  CASE WHEN fmt IN (0, 2, 5) THEN 'audio' WHEN fmt IN (1, 4)
        |    THEN 'video' END AS media_type,
        |  cast(CASE WHEN fmt IN (0, 2, 5) THEN ch END AS bigint) AS channels,
        |  cast(CASE WHEN fmt IN (0, 2) THEN rate
        |    WHEN fmt = 5 THEN 8000 END AS bigint) AS sample_rate,
        |  cast(CASE WHEN fmt = 0 THEN bits END AS bigint) AS bits_per_sample,
        |  cast(CASE WHEN fmt IN (1, 4) THEN w END AS bigint) AS width,
        |  cast(CASE WHEN fmt IN (1, 4) THEN h END AS bigint) AS height,
        |  cast(CASE WHEN fmt = 0 THEN (db * 1000) // (rate * ch * (bits // 8))
        |    WHEN fmt IN (1, 2) THEN durms END AS bigint) AS duration_ms
        |FROM p""".stripMargin,

    // audio-codec twin: expected metadata derived arithmetically from the
    // same parameter draws the Spark side synthesizes container bytes from
    // CLIP filter: caption tower = exact float reorder/negation of the
    // image vector, cosine = the q_knn_brute sequential-fold discipline
    "q_clip_filter" ->
      """WITH cap AS (
        |  SELECT vec_id, embedding AS v,
        |    CASE WHEN vec_id % 5 = 0 THEN list_reverse(embedding)
        |      ELSE list_append(embedding[1:63], -embedding[64]) END AS c
        |  FROM embeddings
        |), dots AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(generate_series(1, len(v)),
        |      i -> cast(v[i] AS double) * cast(c[i] AS double)),
        |      (acc, x) -> acc + x) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(v)),
        |      i -> cast(v[i] AS double) * cast(v[i] AS double)),
        |      (acc, x) -> acc + x)) AS nv,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(c)),
        |      i -> cast(c[i] AS double) * cast(c[i] AS double)),
        |      (acc, x) -> acc + x)) AS nc
        |  FROM cap
        |)
        |SELECT vec_id,
        |  CASE WHEN nv * nc > 0 THEN d / (nv * nc) ELSE 0.0 END AS clip_score,
        |  (CASE WHEN nv * nc > 0 THEN d / (nv * nc) ELSE 0.0 END) >= 0.5 AS kept
        |FROM dots""".stripMargin,

    "q_media_audio" ->
      """WITH p AS (SELECT doc_id,
        |    doc_id % 6 AS fmt,
        |    1 + doc_id % 2 AS ch,
        |    8000 + (doc_id * 37) % 32000 AS rate,
        |    8 + (doc_id % 3) * 4 AS bits,
        |    1000 + (doc_id * 13) % 100000 AS samples,
        |    1 + doc_id % 14 AS br_idx,
        |    doc_id % 3 AS sr_idx,
        |    (doc_id * 3) % 4 AS ch_mode,
        |    (doc_id * 5) % 256 AS db
        |  FROM documents),
        |k AS (SELECT *,
        |    [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
        |     320][br_idx] AS kbps
        |  FROM p)
        |SELECT doc_id,
        |  cast(CASE fmt WHEN 0 THEN 42 WHEN 1 THEN 14 + db WHEN 2 THEN 58
        |    WHEN 3 THEN 47
        |    WHEN 5 THEN 26 + (CASE WHEN ch_mode = 3 THEN 17 ELSE 32 END) + db
        |    ELSE 18 END AS bigint) AS n_bytes,
        |  CASE WHEN fmt = 0 THEN 'flac' WHEN fmt IN (1, 5) THEN 'mp3'
        |    WHEN fmt IN (2, 3) THEN 'ogg' END AS format,
        |  CASE WHEN fmt IN (0, 1, 2, 3, 5) THEN 'audio' END AS media_type,
        |  cast(CASE WHEN fmt IN (0, 2, 3) THEN ch
        |    WHEN fmt IN (1, 5) THEN CASE WHEN ch_mode = 3 THEN 1 ELSE 2 END
        |    END AS bigint) AS channels,
        |  cast(CASE WHEN fmt IN (0, 2, 3) THEN rate
        |    WHEN fmt IN (1, 5) THEN CASE sr_idx WHEN 0 THEN 44100
        |      WHEN 1 THEN 48000 ELSE 32000 END
        |    END AS bigint) AS sample_rate,
        |  cast(CASE WHEN fmt = 0 THEN bits END AS bigint) AS bits_per_sample,
        |  cast(NULL AS bigint) AS width,
        |  cast(NULL AS bigint) AS height,
        |  cast(CASE WHEN fmt = 0 THEN (samples * 1000) // rate
        |    WHEN fmt = 1 THEN ((4 + db) * 8) // kbps
        |    WHEN fmt = 5 THEN (samples * 1152 * 1000) //
        |      (CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |        ELSE 32000 END) END AS bigint)
        |    AS duration_ms
        |FROM k""".stripMargin,

    "q_token_hist" ->
      """SELECT token, cast(count(*) AS bigint) AS cnt FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+(?:''[a-z]+)?|[0-9]+', 0)) AS token
        |  FROM documents) GROUP BY 1""".stripMargin,

    // the two-step merge (initial days 1-15, then overlapping batch days
    // 10-30) collapses to ONE prioritized dedupe: for a key in both, the
    // second merge keeps the top batch row (prio 1 > 0) — exactly the row
    // the one-shot (prio DESC, ts DESC, event_id DESC) order selects; for a
    // key in one batch, both paths keep its internal winner
    "q_upsert_merge" ->
      """WITH b1 AS (SELECT event_id, ts, user_id, event_type, value, 0 AS prio
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |b2 AS (SELECT event_id, ts, user_id, event_type, value, 1 AS prio
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-10'),
        |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, cast(ts AS date)
        |    ORDER BY prio DESC, ts DESC, event_id DESC) AS rn FROM u)
        |SELECT user_id, event_type,
        |  cast(date_diff('day', DATE '1970-01-01', cast(ts AS date)) AS bigint)
        |    AS part_day,
        |  epoch_us(ts) AS ts_us, event_id, value
        |FROM r WHERE rn = 1""".stripMargin,

    // CDC apply: latest-seq winner per key (o_orderkey unique => the
    // row_number replay equals the operator's max_by), full-outer fold
    // with D dropping the key and I/U taking the logged payload
    "q_cdc_apply" -> CdcApplySql,

    // the STREAMED materialization must land on the identical state
    "q_stream_cdc" -> CdcApplySql,


    // A-ES weighted sample: full FnvMix replay on the doc id, the exact
    // ilog2q ladder, the same integer floor-div key, top-100 by
    // (key desc, doc_id)
    "q_weighted_sample" -> WeightedSampleSql,

    "q_stream_weighted_sample" -> WeightedSampleSql,

    // fastText-style classifier inference: full FnvMix replay per feature
    // (unigrams + bigrams), bucket = unsigned z mod 256 (power of two ==
    // Spark's pmod of the signed value), weight lookup from the SAME
    // seeded int8 vector compiled into the Spark plan, one exact integer
    // sum per doc, logit as one divide+multiply — engine-identical IEEE
    "q_quality_classifier" -> {
      val wlist = QualityClassifier.seededWeights(256, 29L).mkString("[", ", ", "]")
      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |feats AS (SELECT doc_id, list_concat(tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
         |    ELSE [] END) AS fs
         |  FROM toks),
         |base AS (SELECT doc_id, len(fs) AS n_features FROM feats),
         |h0 AS (SELECT doc_id, unnest(fs) AS shingle FROM feats),
         |folded AS (SELECT doc_id, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, xor(z, z >> 31) AS z FROM z2),
         |wsum AS (SELECT doc_id,
         |    sum(($wlist)[cast(z % 256 AS bigint) + 1]) AS sum_w
         |  FROM hv GROUP BY 1),
         |sc AS (SELECT b.doc_id, cast(b.n_features AS bigint) AS n_features,
         |    cast(coalesce(w.sum_w, 0) AS bigint) AS sum_w
         |  FROM base b LEFT JOIN wsum w USING (doc_id)),
         |lg AS (SELECT doc_id, n_features, sum_w,
         |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
         |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
         |      AS logit
         |  FROM sc)
         |SELECT doc_id, n_features, sum_w, logit, logit > 0 AS pass FROM lg""".stripMargin
    },

    // eval replay: the SAME classifier chain + the SAME rule labels, then
    // bucketed average-rank AUC — every rank a multiple of 0.5 (exact
    // doubles), one rounding step per ratio
    "q_classifier_eval" -> {
      val wlist = QualityClassifier.seededWeights(256, 29L).mkString("[", ", ", "]")
      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |feats AS (SELECT doc_id, list_concat(tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
         |    ELSE [] END) AS fs
         |  FROM toks),
         |base AS (SELECT doc_id, len(fs) AS n_features FROM feats),
         |h0 AS (SELECT doc_id, unnest(fs) AS shingle FROM feats),
         |folded AS (SELECT doc_id, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, xor(z, z >> 31) AS z FROM z2),
         |wsum AS (SELECT doc_id,
         |    sum(($wlist)[cast(z % 256 AS bigint) + 1]) AS sum_w
         |  FROM hv GROUP BY 1),
         |sc AS (SELECT b.doc_id, cast(b.n_features AS bigint) AS n_features,
         |    cast(coalesce(w.sum_w, 0) AS bigint) AS sum_w
         |  FROM base b LEFT JOIN wsum w USING (doc_id)),
         |lab AS (SELECT doc_id, NOT (len(tk) < 32
         |    OR cast(len(tk) - len(list_distinct(tk)) AS double)
         |      > 0.6 * cast(len(tk) AS double)
         |    OR cast(len(list_filter(tk, t -> list_contains(
         |        ['the','a','an','of','and','to','in','is','it','that'], t)))
         |        AS double)
         |      < 0.03 * cast(len(tk) AS double)) AS label
         |  FROM toks),
         |ev AS (SELECT sc.doc_id,
         |    cast(floor(cast(sum_w AS double) * 16.0
         |      / cast(greatest(n_features, 1) AS double)) AS bigint) AS bucket,
         |    lab.label AS label, sum_w > 0 AS pred
         |  FROM sc JOIN lab USING (doc_id)),
         |g AS (SELECT bucket, count(*) AS cnt,
         |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
         |    sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS tp,
         |    sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS fp,
         |    sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS fn
         |  FROM ev GROUP BY 1),
         |r AS (SELECT *, sum(cnt) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) - cnt AS cum_less FROM g),
         |a AS (SELECT cast(sum(pos) AS bigint) AS n_pos,
         |    cast(sum(cnt - pos) AS bigint) AS n_neg,
         |    sum(cast(pos AS double) * (cast(cum_less AS double)
         |      + (cast(cnt AS double) + 1.0) / 2.0)) AS rank_sum,
         |    cast(sum(tp) AS bigint) AS tp, cast(sum(fp) AS bigint) AS fp,
         |    cast(sum(fn) AS bigint) AS fn, cast(sum(cnt) AS bigint) AS n
         |  FROM r)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    (rank_sum - cast(n_pos AS double) * (cast(n_pos AS double) + 1.0)
         |      / 2.0)
         |    / (cast(n_pos AS double) * cast(n_neg AS double)) END AS auc,
         |  tp, fp, fn, n - tp - fp - fn AS tn,
         |  CASE WHEN tp + fp > 0
         |    THEN cast(tp AS double) / cast(tp + fp AS double) END AS "precision",
         |  CASE WHEN tp + fn > 0
         |    THEN cast(tp AS double) / cast(tp + fn AS double) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn > 0
         |    THEN cast(2 * tp AS double) / cast(2 * tp + fp + fn AS double)
         |    END AS f1
         |FROM a""".stripMargin
    },

    // multiclass langid replay: ONE shared splitmix bucket chain over the
    // char trigrams, four literal weight-list sums, per-class affines,
    // argmax via a >=-CASE (ties to the smaller class index, the Spark
    // struct(logit, -idx) max rule)
    "q_lang_classify" -> (
      s"""WITH ${langClassifyCtes("documents")}
         |SELECT doc_id, cast(n_features AS bigint) AS n_features, lang, logit
         |FROM mlpred""".stripMargin),

    // BPE trajectory replay: m rounds of (pair count over the delimited
    // vocab, argmax with (count desc, pair asc) tie-break, one replace) —
    // replace() has identical left-to-right non-overlap semantics in both
    // engines, which IS the BPE greedy merge rule
    "q_bpe_train" -> (
      s"""WITH ${bpeOracleCtes(6)}
         |${(1 to 6).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt FROM b$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    "q_bpe_tokenize" -> (
      s"""WITH ${bpeOracleCtes(6)},
         |sw AS (SELECT unnest(string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1))) AS subword, cnt FROM v6),
         |agg AS (SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |  FROM sw GROUP BY 1)
         |SELECT subword, n_occurrences FROM agg
         |ORDER BY n_occurrences DESC, subword LIMIT 40""".stripMargin),

    // byte-level BPE trajectory replay: regex pre-tokens, hex byte
    // symbols, then the identical merge-round replay (replace semantics
    // again identical in both engines)
    "q_bpe_bytes_train" -> (
      s"""WITH ${bpeBytesOracleCtes(8)}
         |${(1 to 8).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt FROM bbb$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    "q_bpe_bytes_tokenize" -> (
      s"""WITH ${bpeBytesOracleCtes(8)},
         |bsw AS (SELECT unnest(string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1))) AS subword, cnt FROM bbv8),
         |bagg AS (SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |  FROM bsw GROUP BY 1)
         |SELECT subword, n_occurrences FROM bagg
         |ORDER BY n_occurrences DESC, subword LIMIT 40""".stripMargin),

    "q_bpe_bytes_doc_ids" -> (
      s"""WITH ${bpeBytesOracleCtes(8)},
         |bwt AS (SELECT word, string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1)) AS toks FROM bbv8),
         |bdw AS (SELECT doc_id, wpos, word FROM gtok)
         |SELECT doc_id,
         |  cast(sum(len(toks)) AS bigint) AS n_tokens,
         |  array_to_string(flatten(list(toks ORDER BY wpos)), ',') AS token_hex
         |FROM bdw JOIN bwt USING (word)
         |GROUP BY doc_id""".stripMargin),

    // the exact GPT-2 pre-tokenizer pinned at token grain: the scanner
    // rules replayed per character with window functions (gpt2PretokCtes
    // scaladoc) over the suffix-augmented doc slice
    "q_gpt2_pretok" -> (
      s"""WITH gdocs AS (SELECT doc_id,
         |    text || '${Gpt2AdversarialSuffix.replace("'", "''")}' AS text
         |  FROM documents WHERE doc_id % 53 = 0),
         |${gpt2PretokCtes("gdocs")}
         |SELECT doc_id, wpos, word FROM gtok""".stripMargin),

    // unigram-LM trajectory replay: seed counts, integer ilog2q scores,
    // recursive Viterbi DP + backtrace, two pruning rounds, final artifact
    // (u3scr) — the whole hard-EM trajectory in exact integers
    "q_unigram_train" -> ("WITH RECURSIVE " + unigramOracleCtes +
      "\nSELECT piece, cast(used AS bigint) AS used_cnt, " +
      "cast(score AS bigint) AS score FROM u3scr"),

    // application replay: round-3 segmentation counts under the artifact
    "q_unigram_tokenize" -> ("WITH RECURSIVE " + unigramOracleCtes +
      "\nSELECT piece AS subword, cast(used AS bigint) AS n_occurrences " +
      "FROM u3cnt ORDER BY used DESC, subword LIMIT 40"),

    // doc-grain replay: the round-3 per-word segmentations (u3bt) mapped
    // to dense ids (rank by piece over the artifact), documents
    // re-assembled by word position then piece position
    "q_unigram_doc_ids" -> ("WITH RECURSIVE " + unigramOracleCtes + """,
        |dtw AS (SELECT doc_id, i AS wpos, tk[i] AS word
        |  FROM utoks CROSS JOIN unnest(generate_series(1, len(tk))) AS g(i)
        |  WHERE regexp_full_match(tk[i], '[a-z0-9]+')),
        |tid AS (SELECT piece, row_number() OVER (ORDER BY piece) AS tid
        |  FROM u3scr),
        |wseg AS (SELECT word, ps FROM u3bt WHERE j = 0),
        |wp AS (SELECT word, i AS ppos, ps[i] AS piece
        |  FROM wseg CROSS JOIN unnest(generate_series(1, len(ps))) AS g(i)),
        |wids AS (SELECT word, list(tid ORDER BY ppos) AS ids
        |  FROM wp JOIN tid USING (piece) GROUP BY word)
        |SELECT d.doc_id,
        |  cast(sum(len(w.ids)) AS bigint) AS n_tokens,
        |  string_agg(array_to_string(w.ids, ','), ',' ORDER BY d.wpos)
        |    AS token_ids
        |FROM dtw d JOIN wids w USING (word)
        |GROUP BY d.doc_id""".stripMargin),

    // WordPiece trajectory replay: ##-prefixed sentinel symbols, per-round
    // quantized-likelihood argmax in exact integers, literal-replace
    // merges — then the merge table re-derived round by round
    "q_wordpiece_train" -> (
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)}
         |${(1 to 8).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt, cast(score AS bigint) " +
              s"AS score_q FROM wpm$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    // greedy longest-match-first replay: recursive position walk per
    // vocab word against the final vocabulary (list_max over matching
    // lengths), [UNK] collapse included
    "q_wordpiece_tokenize" -> (
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)}
         |SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |FROM (SELECT cnt, unnest(ps) AS subword FROM wpseg)
         |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 40""".stripMargin),

    // doc-grain replay: greedy segmentations mapped to dense ids (rank
    // by symbol over vocab + [UNK]), re-assembled by word then piece pos
    "q_wordpiece_doc_ids" -> (
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)},
         |wpdw AS (SELECT doc_id, i AS wpos, tk[i] AS word
         |  FROM wptoks CROSS JOIN unnest(generate_series(1, len(tk))) AS g(i)
         |  WHERE regexp_full_match(tk[i], '[a-z0-9]+')),
         |wpwp AS (SELECT word, i AS ppos, ps[i] AS piece
         |  FROM wpseg CROSS JOIN unnest(generate_series(1, len(ps))) AS g(i)),
         |wpwi AS (SELECT word, list(tid ORDER BY ppos) AS ids
         |  FROM wpwp JOIN wpid ON piece = sym GROUP BY word)
         |SELECT d.doc_id,
         |  cast(sum(len(w.ids)) AS bigint) AS n_tokens,
         |  string_agg(array_to_string(w.ids, ','), ',' ORDER BY d.wpos)
         |    AS token_ids
         |FROM wpdw d JOIN wpwi w USING (word)
         |GROUP BY d.doc_id""".stripMargin),

    // tokenizer comparison: all four trajectory replays in one statement,
    // totals as scalar subqueries over each family's final vocab table
    "q_tokenizer_eval" -> ("WITH RECURSIVE " +
      Seq(bpeOracleCtes(6), bpeBytesOracleCtes(8), unigramOracleCtes,
        wordPieceOracleCtes(8)).mkString(",\n") + """
      |SELECT 'bpe_char' AS tokenizer,
      |  (SELECT cast(sum(cnt) AS bigint) FROM wv) AS n_units,
      |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM wv) AS n_chars,
      |  (SELECT cast(sum(len(string_split(substring(s, 2, length(s) - 2),
      |     chr(1) || chr(1))) * cnt) AS bigint) FROM v6) AS n_tokens
      |UNION ALL SELECT 'bpe_bytes',
      |  (SELECT cast(sum(cnt) AS bigint) FROM bbwv),
      |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM bbwv),
      |  (SELECT cast(sum(len(string_split(substring(s, 2, length(s) - 2),
      |     chr(1) || chr(1))) * cnt) AS bigint) FROM bbv8)
      |UNION ALL SELECT 'unigram',
      |  (SELECT cast(sum(cnt) AS bigint) FROM uwv),
      |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM uwv),
      |  (SELECT cast(sum(cnt * len(ps)) AS bigint) FROM u3bt WHERE j = 0)
      |UNION ALL SELECT 'wordpiece',
      |  (SELECT cast(sum(cnt) AS bigint) FROM wpwv),
      |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM wpwv),
      |  (SELECT cast(sum(cnt * len(ps)) AS bigint) FROM wpseg)""".stripMargin),

    // DSIR replay: the SAME fnv_mix token-bucket chain as the classifier
    // (seed 41), then the ratio table is re-derived IN SQL from the bucket
    // counts — cast-to-double factors in exactly the operator's association
    // so all three IEEE roundings match, floor-quantized to the 2^-20 grid
    "q_dsir_select" -> {
      val seedGolden = (BigInt(41) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |tl AS (SELECT doc_id, unnest(tk) AS shingle FROM toks),
         |folded AS (SELECT doc_id, $FnvFoldSql AS h FROM tl),
         |z0 AS (SELECT doc_id,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, xor(z, z >> 31) AS z FROM z2),
         |bk AS (SELECT doc_id, cast(z % 4096 AS bigint) AS b FROM hv),
         |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |cnt AS (SELECT b,
         |    sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS ct,
         |    count(*) AS cr
         |  FROM bk LEFT JOIN tgt t USING (doc_id) GROUP BY b),
         |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
         |w AS (SELECT b,
         |    floor(cast(ct + 1 AS double) * cast(nr + 4096 AS double)
         |      / (cast(cr + 1 AS double) * cast(nt + 4096 AS double))
         |      * 1048576) / 1048576 AS wt
         |  FROM cnt, tot),
         |ds AS (SELECT bk.doc_id, sum(w.wt) AS importance
         |  FROM bk JOIN w USING (b) GROUP BY 1),
         |base AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens FROM toks),
         |sc AS (SELECT base.doc_id, base.n_tokens,
         |    coalesce(ds.importance, 0.0) AS importance,
         |    coalesce(ds.importance, 0.0)
         |      / cast(greatest(base.n_tokens, 1) AS double) AS avg_importance
         |  FROM base LEFT JOIN ds USING (doc_id))
         |SELECT doc_id, n_tokens, importance, avg_importance,
         |  cast(row_number() OVER (ORDER BY avg_importance DESC, doc_id) AS bigint) AS rank
         |FROM sc
         |QUALIFY rank <= 50""".stripMargin
    },

    // segment-grain classifier: the q_segment_dedup segmenter CTEs feed
    // the q_quality_classifier chain keyed on (doc_id, seg_idx); doc
    // pooling is exact integer sums with one IEEE divide, mirrored
    // operation-for-operation
    "q_segment_classify" -> {
      val wlist = QualityClassifier.seededWeights(256, 29L).mkString("[", ", ", "]")
      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      val pooledSql = "CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) * " +
        "(cast(sum(sum_w) AS double) / cast(greatest(sum(n_features), 1) AS double))"
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
         |st AS (SELECT doc_id, tk, n,
         |    list_filter(range(0, greatest(n, 1), 8), i -> i < n) AS ss FROM c),
         |segs AS (SELECT doc_id, u.j - 1 AS seg_idx,
         |    array_to_string(list_slice(tk, u.s + 1, u.s + 8), ' ') AS seg
         |  FROM (SELECT doc_id, tk,
         |      unnest(list_transform(range(1, len(ss) + 1),
         |        j -> struct_pack(j := j, s := ss[j]))) AS u
         |    FROM st)),
         |stoks AS (SELECT doc_id, seg_idx,
         |    list_filter(string_split_regex(lower(seg), '\\s+'),
         |      t -> len(t) > 0) AS tk
         |  FROM segs),
         |feats AS (SELECT doc_id, seg_idx, list_concat(tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
         |    ELSE [] END) AS fs FROM stoks),
         |base AS (SELECT doc_id, seg_idx, len(fs) AS n_features FROM feats),
         |h0 AS (SELECT doc_id, seg_idx, unnest(fs) AS shingle FROM feats),
         |folded AS (SELECT doc_id, seg_idx, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id, seg_idx,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, seg_idx,
         |    ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, seg_idx,
         |    ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, seg_idx, xor(z, z >> 31) AS z FROM z2),
         |wsum AS (SELECT doc_id, seg_idx,
         |    sum(($wlist)[cast(z % 256 AS bigint) + 1]) AS sum_w
         |  FROM hv GROUP BY 1, 2),
         |sc AS (SELECT b.doc_id, b.seg_idx,
         |    cast(b.n_features AS bigint) AS n_features,
         |    cast(coalesce(w.sum_w, 0) AS bigint) AS sum_w
         |  FROM base b LEFT JOIN wsum w USING (doc_id, seg_idx)),
         |lg AS (SELECT doc_id, seg_idx, n_features, sum_w,
         |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
         |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
         |      AS logit
         |  FROM sc)
         |SELECT doc_id,
         |  cast(count(*) AS bigint) AS n_segs,
         |  cast(sum(CASE WHEN logit > 0 THEN 0 ELSE 1 END) AS bigint) AS n_fail,
         |  min(logit) AS worst_logit,
         |  $pooledSql AS pooled_logit,
         |  ($pooledSql) > 0 AS doc_pass
         |FROM lg GROUP BY 1""".stripMargin
    },

    // full FnvMix replay on CAST(doc_id AS VARCHAR), seed 13; shard =
    // unsigned z mod 8 (power-of-two count, so it equals Spark's pmod of
    // the signed value). The Spark side reads the written files back, so a
    // match here proves the on-disk layout, not just the plan.
    // the roundtrip signature must equal the source table's, once per
    // format — identity through each write/read path is the claim
    "q_format_roundtrip" ->
      """WITH s AS (SELECT cast(count(*) AS bigint) AS n_rows,
        |    cast(sum(event_id) AS bigint) AS id_sum,
        |    cast(sum(epoch_us(ts) % 1000000007) AS bigint) AS ts_check,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS value_sum
        |  FROM events)
        |SELECT f.format, s.n_rows, s.id_sum, s.ts_check, s.value_sum
        |FROM s CROSS JOIN (VALUES ('orc'), ('json'), ('csv')) AS f(format)""".stripMargin,

    // migration split: replay the three distinct projections, the
    // targeted correction, and every validation check in SQL
    "q_split_migration" -> (
      """WITH src AS (SELECT user_id, event_type, event_id, value FROM events),
        |u AS (SELECT DISTINCT user_id FROM src),
        |ut AS (SELECT DISTINCT user_id, event_type FROM src),
        |ev0 AS (SELECT DISTINCT user_id, event_type, event_id, value FROM src),
        |ev AS (SELECT user_id, event_type, event_id,
        |    CASE WHEN event_id % 997 = 13 THEN 0.0 ELSE value END AS value
        |  FROM ev0),
        |sig AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS events_value_sum FROM ev),
        |rep AS (
        |  SELECT 'users' AS table_name,
        |    (SELECT count(*) FROM u) AS n_rows,
        |    (SELECT count(*) FROM u) = (SELECT count(DISTINCT user_id) FROM u)
        |      AS grain_unique,
        |    (SELECT count(DISTINCT user_id) FROM u) =
        |      (SELECT count(DISTINCT user_id) FROM src) AS covers_source,
        |    TRUE AS parent_contained,
        |    CAST(0 AS BIGINT) AS n_corrected
        |  UNION ALL
        |  SELECT 'user_event_types',
        |    (SELECT count(*) FROM ut),
        |    (SELECT count(*) FROM ut) =
        |      (SELECT count(DISTINCT (user_id, event_type)) FROM ut),
        |    (SELECT count(DISTINCT (user_id, event_type)) FROM ut) =
        |      (SELECT count(DISTINCT (user_id, event_type)) FROM src),
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id FROM ut) c
        |      LEFT JOIN u USING (user_id) WHERE u.user_id IS NULL) = 0,
        |    CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'events_split',
        |    (SELECT count(*) FROM ev),
        |    (SELECT count(*) FROM ev) =
        |      (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM ev),
        |    (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM ev) =
        |      (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM src),
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM ev) c
        |      LEFT JOIN ut USING (user_id, event_type)
        |      WHERE ut.user_id IS NULL) = 0,
        |    (SELECT count(*) FROM ev0 WHERE event_id % 997 = 13))
        |SELECT table_name, n_rows, grain_unique, covers_source,
        |  parent_contained, n_corrected, events_value_sum
        |FROM rep CROSS JOIN sig""".stripMargin),

    "q_shard_export" -> {
      val seedGolden = (BigInt(13) * GoldenB).mod(BigInt(2).pow(64))
      s"""WITH h0 AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS shingle FROM documents),
         |folded AS (SELECT doc_id, $FnvFoldSql AS h FROM h0),
         |z0 AS (SELECT doc_id,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
         |      AS UBIGINT) AS z FROM folded),
         |z1 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT doc_id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT doc_id, xor(z, z >> 31) AS z FROM z2)
         |SELECT cast(z % 8 AS bigint) AS shard,
         |  cast(count(*) AS bigint) AS n_rows_read,
         |  cast(count(*) AS bigint) AS n_rows_manifest,
         |  cast(sum(doc_id) AS bigint) AS id_sum
         |FROM hv GROUP BY 1""".stripMargin
    }
  )
}
