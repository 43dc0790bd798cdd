package alcobench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** One input turn, in the column layout of the engine's transcripts contract. */
final case class TurnRow(conv_id: String, turn_idx: Int, role: String,
    text: String, tool: String, ts: Timestamp)

/** The benchmark's own seeded input generator.
  *
  * Every row is a pure function of (seed, row index), so the same seed gives
  * the same files at any parallelism, and the expected answers (quarantined,
  * collapsed and committed row counts) are computed here, without asking
  * the engine. The engine only ever sees the parquet files
  * written by `writeTurns` / `writeSf`.
  *
  * Planted properties of the transcripts stream. The first three follow
  * FIXTURES.md §1, the repository's spec of the `transcripts` input:
  *  - hot-conversation skew: ~30% of turns belong to one conversation, ~30%
  *    to the next nine, the rest to a skewed (Zipf-like) tail of conversations;
  *  - about 1% malformed rows (they start like a tool call or result but
  *    match no grok pattern), which the engine must quarantine;
  *  - the four roles `user`, `assistant`, `system` and `tool`.
  * The rest are assumptions of this benchmark. The repository holds no
  * measurement of alco's traffic, so each share is chosen to put a layer to
  * work, not to match a log:
  *  - redelivered duplicates (the `Spec` shares): a row repeats an earlier
  *    row of the same batch verbatim, which REPLACE dedup collapses, or, in
  *    trickle streams, a row of the previous, committed batch, which the
  *    copy-on-write merge collapses. A few percent, so both paths run on
  *    every batch while most rows are new;
  *  - Cyrillic free text on 15% of chat turns, so that multibyte UTF-8 is on
  *    the tokenizer and byte-scan paths in every file, beside ASCII;
  *  - a rare token on 0.6% of ASCII chat turns, tied to one day, so a term
  *    index can prune files for it; common words are in every file and
  *    cannot be pruned;
  *  - day windows: batch b covers days [b / batchesPerDay, + daysPerBatch),
  *    so consecutive trickle batches land in already committed partitions.
  * Unlike FIXTURES.md, `turn_idx` is the global row key and `ts` is drawn
  * inside the row's day window, so `ts` is not monotone within a
  * conversation: overlapping batches need rows in days already committed.
  */
object Gen {

  /** 2025-01-01T00:00:00Z. */
  val BaseEpochSec = 1735689600L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent random stream `stream` for item `i` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x2545F4914F6CDD1DL + stream) + i))

  val Tools: Vector[String] = Vector("bash", "search", "edit", "read", "browser")
  val Common: Vector[String] = Vector("the", "shard", "partition", "merge",
    "latency", "retry", "stream", "video", "upload", "cache", "index",
    "query", "worker", "queue", "player", "buffer", "segment", "token",
    "request", "timeout")
  val Cyrillic: Vector[String] = Vector("видео", "загрузка", "ошибка",
    "сервер", "запрос", "поток", "кэш", "ролик", "канал", "пользователь",
    "обработка", "завершена", "транскодирование", "плеер", "буфер",
    "задержка", "повтор", "очередь")
  /** Planted phrase; "retry logic" occurs as consecutive tokens. */
  val Phrase = "retry logic"
  val RareVariants = 40

  /** The rare token planted in rows of `day` (variant `j`). */
  def rareToken(day: Int, j: Int): String = s"zq${day}x$j"

  final case class Spec(
      seed: Long,
      rowsPerBatch: Int,
      daysPerBatch: Int,
      batchesPerDay: Int,
      dupShare: Double,
      crossShare: Double,
      tailConvs: Int) {
    def batchOf(i: Long): Long = i / rowsPerBatch
    def batchStart(b: Long): Long = b * rowsPerBatch
  }

  /** The content of key `k` (conv_id is derived, turn_idx = k). */
  final case class Base(convId: String, role: String, tool: String,
      tsSec: Long, day: Int, text: String, malformed: Boolean)

  def base(s: Spec, k: Long): Base = {
    val r = rng(s.seed, 0, k)
    val u = r.nextDouble()
    val conv =
      if (u < 0.30) "conv_hot"
      else if (u < 0.60) s"conv_warm${r.nextInt(9)}"
      else f"conv_${r.nextInt(r.nextInt(s.tailConvs) + 1)}%06d"
    // FIXTURES.md fixes the roles, not their shares: tool turns are a quarter
    // so the call/result patterns carry weight, system prompts are rarest
    val role = r.nextInt(8) match {
      case 0 | 1 => "user"
      case 2 | 3 => "tool"
      case 4 => "system"
      case _ => "assistant"
    }
    val tool = if (role == "tool") Tools(r.nextInt(Tools.size)) else ""
    val day = (s.batchOf(k) / s.batchesPerDay).toInt + r.nextInt(s.daysPerBatch)
    val tsSec = BaseEpochSec + day * 86400L + r.nextInt(86400)
    val malformed = r.nextDouble() < 0.01
    val text =
      if (malformed) r.nextInt(3) match {
        case 0 => "CALL  args= dur_ms=oops"
        case 1 => "RESULT status= bytes=-"
        case _ => s"CALL $tool args={broken dur_ms=${r.nextInt(100)}"
      }
      else if (role == "tool") {
        if (r.nextBoolean())
          s"""CALL $tool args={"cmd":"op_${r.nextInt(50)}","path":"/srv/${Common(r.nextInt(Common.size))}"} dur_ms=${r.nextInt(5000)}"""
        else
          s"RESULT status=${if (r.nextInt(10) < 8) "ok" else "err"} " +
            s"bytes=${r.nextInt(100000)} msg=${words(r, Common, 3 + r.nextInt(5))}"
      } else if (r.nextDouble() < 0.15) words(r, Cyrillic, 4 + r.nextInt(8))
      else {
        val sb = new StringBuilder(words(r, Common, 5 + r.nextInt(10)))
        if (r.nextDouble() < 0.3) sb.append(' ').append(Phrase)
        if (r.nextDouble() < 0.006)
          sb.append(' ').append(rareToken(day, r.nextInt(RareVariants)))
        sb.append(' ').append(r.nextInt(1000))
        sb.toString
      }
    Base(conv, role, tool, tsSec, day, text, malformed)
  }

  /** Skewed word choice: low vocabulary indices are much more frequent. */
  private def words(r: SplittableRandom, vocab: Vector[String], n: Int): String =
    Iterator.fill(n)(vocab(r.nextInt(r.nextInt(vocab.size) + 1)))
      .mkString(" ")

  private def isDup(s: Spec, i: Long): Boolean =
    rng(s.seed, 1, i).nextDouble() < s.dupShare + s.crossShare

  /** The key row `i` delivers: `i` itself, or for a redelivered duplicate
    * an earlier non-duplicate row of the same batch (or, for a cross-batch
    * redelivery, of the previous batch).
    */
  def origin(s: Spec, i: Long): Long = {
    if (!isDup(s, i)) return i
    val r = rng(s.seed, 2, i)
    val b = s.batchOf(i)
    val start = s.batchStart(b)
    val cross = b > 0 &&
      r.nextDouble() * (s.dupShare + s.crossShare) < s.crossShare
    val (lo, hi) = if (cross) (start - s.rowsPerBatch, start) else (start, i)
    if (hi <= lo) return i
    var k = hi - 1 - r.nextInt(math.min(hi - lo, 4096L).toInt)
    while (k >= lo && isDup(s, k)) k -= 1
    if (k < lo) i else k
  }

  def row(s: Spec, i: Long): TurnRow = {
    val k = origin(s, i)
    val b = base(s, k)
    TurnRow(b.convId, k.toInt, b.role, b.text, b.tool, new Timestamp(b.tsSec * 1000L))
  }

  /** Expected funnel of one batch, from the generator alone. */
  final case class Funnel(input: Long, quarantined: Long, collapsed: Long,
      wellFormedKeys: Set[Long]) {
    def routed: Long = input - quarantined - collapsed
  }

  def funnel(s: Spec, batch: Long): Funnel = {
    val start = s.batchStart(batch)
    var quarantined = 0L
    var wellFormed = 0L
    val keys = Set.newBuilder[Long]
    var i = start
    while (i < start + s.rowsPerBatch) {
      val k = origin(s, i)
      if (base(s, k).malformed) quarantined += 1
      else { wellFormed += 1; keys += k }
      i += 1
    }
    val ks = keys.result()
    Funnel(s.rowsPerBatch, quarantined, wellFormed - ks.size, ks)
  }

  /** Write batch `batch` of `s` as parquet to `path`; returns its bytes. */
  def writeTurns(spark: SparkSession, s: Spec, batch: Long, path: String): Long = {
    import spark.implicits._
    val start = s.batchStart(batch)
    val slices = math.max(1, math.min(8, s.rowsPerBatch / 25000))
    spark.range(start, start + s.rowsPerBatch, 1, slices).as[Long]
      .map(i => row(s, i))
      .write.mode(SaveMode.Overwrite).parquet(path)
    Fs.treeBytes(path)
  }

  /** Write batches [from, until) of `s` in one job, batch b to `<dir>/batch=b`;
    * returns their total bytes.
    */
  def writeBatches(spark: SparkSession, s: Spec, from: Long, until: Long,
      dir: String): Long = {
    import spark.implicits._
    spark.range(s.batchStart(from), s.batchStart(until), 1,
        math.max(1, math.min(8, (until - from).toInt))).as[Long]
      .map(i => (row(s, i), s.batchOf(i)))
      .select(col("_1.*"), col("_2").as("batch"))
      .write.mode(SaveMode.Overwrite).partitionBy("batch").parquet(dir)
    Fs.treeBytes(dir)
  }

  // ── grep query mix ─────────────────────────────────────────────────────

  /** One grep call of the mix: its class name and what to run. */
  sealed trait GrepOp { def cls: String }
  final case class QueryOp(cls: String, q: graft.alco.Grep.Query) extends GrepOp
  final case class TotalOp(cls: String, q: graft.alco.Grep.Query) extends GrepOp
  final case class ContextOp(cls: String, convId: String, turnIdx: Int,
      n: Int) extends GrepOp

  val GrepClasses: Seq[String] = Seq("rare_any", "rare_all", "common_any",
    "all", "phrase", "quorum", "proximity", "not_attr_range", "paged",
    "total", "context")

  /** The `i`-th query of the mix over a table holding `days` (first day
    * `firstDay`) of stream `s`. Classes rotate so every class is sampled
    * evenly; the terms, days and keys are drawn from the seed.
    */
  def grepOp(s: Spec, firstDay: Int, days: Int, maxKey: Long, i: Long): GrepOp = {
    import graft.alco.Grep._
    val r = rng(s.seed, 7, i)
    def common(): String = Common(r.nextInt(8))
    def day(): Int = firstDay + r.nextInt(days)
    def rare(): String = rareToken(day(), r.nextInt(RareVariants))
    def ts(d: Int): Timestamp = new Timestamp((BaseEpochSec + d * 86400L) * 1000L)
    GrepClasses((i % GrepClasses.size).toInt) match {
      case c @ "rare_any" => QueryOp(c, Query(Seq(rare(), rare()), MatchAny))
      case c @ "rare_all" => QueryOp(c, Query(Seq(rare(), "the"), MatchAll))
      case c @ "common_any" => QueryOp(c, Query(Seq(common()), MatchAny))
      case c @ "all" => QueryOp(c, Query(Seq(common(), common()), MatchAll))
      case c @ "phrase" => QueryOp(c, Query(Phrase.split(' ').toSeq, MatchPhrase))
      case c @ "quorum" =>
        QueryOp(c, Query(Seq(common(), common(), Common(8 + r.nextInt(8))),
          MatchQuorum(2)))
      case c @ "proximity" =>
        QueryOp(c, Query(Seq(common(), common()), MatchProximity(3)))
      case c @ "not_attr_range" =>
        val d = day()
        QueryOp(c, Query(Seq(common()), MatchAny, notTerms = Seq(common()),
          filters = Map("role" -> Seq("user", "assistant")),
          tsFrom = Some(ts(d)), tsTo = Some(ts(d + 2))))
      case c @ "paged" =>
        QueryOp(c, Query(Seq(common()), MatchAny, limit = 50,
          offset = 50 * (1 + r.nextInt(4))))
      case c @ "total" => TotalOp(c, Query(Seq(common(), rare()), MatchAll))
      case c =>
        // a key that exists in the table: a well-formed, non-duplicate row
        var k = r.nextLong(maxKey)
        while (origin(s, k) != k || base(s, k).malformed) k = r.nextLong(maxKey)
        ContextOp(c, base(s, k).convId, k.toInt, 3)
    }
  }

  // ── sf-shaped tables for the curate workload ───────────────────────────

  final case class SfSize(docs: Int, events: Int, customers: Int,
      orders: Int, lineitems: Int, embeddings: Int)

  final case class DocRow(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class CustomerRow(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class OrderRow(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
      o_orderpriority: String)
  final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)
  final case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)

  val DocWords: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0
  private def day(epochDay: Long): Timestamp = new Timestamp(epochDay * 86400000L)

  def doc(seed: Long, i: Long): DocRow = {
    val r = rng(seed, 20, i)
    val n = 10 + r.nextInt(80)
    val text = Iterator.fill(n)(
      if (r.nextInt(1000) < 2) "dup" else DocWords(r.nextInt(DocWords.size)))
      .mkString(" ")
    val u = r.nextInt(20)
    val lang = if (u < 8) "en" else Vector("zh", "es", "fr", "de")(u % 4)
    DocRow(i, text, lang, s"src${i % 20}", text.length.toLong)
  }

  def event(seed: Long, users: Int, i: Long): EventRow = {
    val r = rng(seed, 21, i)
    val ts = new Timestamp(1704067200000L + r.nextLong(30L * 86400000L))
    EventRow(i, ts, r.nextInt(users).toLong,
      Vector("signup", "purchase", "view", "click", "error")(r.nextInt(5)),
      cents(-50.0 * math.log(1.0 - r.nextDouble())),
      s"""{"k": ${r.nextInt(100)}}""")
  }

  def customer(seed: Long, i: Long): CustomerRow = {
    val r = rng(seed, 22, i)
    CustomerRow(i, f"Customer#$i%09d", r.nextInt(25), cents(r.nextDouble() * 10000),
      Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")(r.nextInt(5)))
  }

  def order(seed: Long, customers: Int, i: Long): OrderRow = {
    val r = rng(seed, 23, i)
    // two thirds of the customers order, so the anti join keeps a third
    OrderRow(i, r.nextInt(customers * 2 / 3 + 1).toLong,
      Vector("O", "F", "P")(r.nextInt(3)), cents(1000 + r.nextDouble() * 499000),
      day(9131L + r.nextInt(2404)),
      Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
  }

  def lineitem(seed: Long, orders: Int, i: Long): LineRow = {
    val r = rng(seed, 24, i)
    val qty = (1 + r.nextInt(50)).toDouble
    LineRow(r.nextInt(orders).toLong, r.nextInt(20000).toLong, r.nextInt(1000).toLong,
      1 + r.nextInt(7), qty, cents(qty * (900 + r.nextDouble() * 1200)),
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Vector("N", "R", "A")(r.nextInt(3)), Vector("F", "O")(r.nextInt(2)),
      day(9132L + r.nextInt(2500)))
  }

  def embedding(seed: Long, i: Long): EmbeddingRow = {
    val r = rng(seed, 25, i)
    val label = r.nextInt(10)
    val v = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
    v(label) += 2.0f // label clusters, so nearest neighbours are meaningful
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    EmbeddingRow(i, v.map(_ / norm), label)
  }

  /** Write the sf-shaped tables `<dir>/<name>.parquet`; returns total bytes. */
  def writeSf(spark: SparkSession, seed: Long, n: SfSize, dir: String): Long = {
    import spark.implicits._
    def ids(count: Int) = spark.range(0L, count.toLong, 1L, 4).as[Long]
    def put(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val users = math.max(n.events / 66, 10)
    put("documents", ids(n.docs).map(i => doc(seed, i)).toDF())
    put("events", ids(n.events).map(i => event(seed, users, i)).toDF())
    put("customer", ids(n.customers).map(i => customer(seed, i)).toDF())
    put("nation", ids(25).map(i => NationRow(i.toInt, s"NATION_$i", (i % 5).toInt)).toDF())
    put("orders", ids(n.orders).map(i => order(seed, n.customers, i)).toDF())
    put("lineitem", ids(n.lineitems).map(i => lineitem(seed, n.orders, i)).toDF())
    put("embeddings", ids(n.embeddings).map(i => embedding(seed, i)).toDF())
    Fs.treeBytes(dir)
  }
}
