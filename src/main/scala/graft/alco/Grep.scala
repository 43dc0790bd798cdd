package graft.alco

import java.sql.Timestamp

import graft.functions.ByteScan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The "grep" query surface (SURVEY.md §3 E2) — alco's Django search app
  * rebuilt over the routed table: full-text match, attribute IN filters,
  * date-range pruning, stable ordering, pagination, and the ±N context view.
  *
  * Sphinx's inverted index is replaced by codegen'd token predicates over a
  * columnar scan; the manual shard-list math is replaced by Catalyst
  * partition pruning on the `day` partition column (free). The Column API
  * is injection-free by construction (alco needed SphinxQL escaping [PK]).
  */
object Grep {

  sealed trait MatchMode
  case object MatchAny extends MatchMode // Sphinx OR
  case object MatchAll extends MatchMode // Sphinx AND
  case object MatchPhrase extends MatchMode // Sphinx "phrase"
  /** Sphinx quorum `"a b c"/k`: at least k of the terms occur. */
  final case class MatchQuorum(minMatch: Int) extends MatchMode
  /** Sphinx proximity `"a b"~N`: all terms occur (any order) within a span
    * of `maxSpan` consecutive tokens. Sphinx's distance N maps to
    * maxSpan = #terms + N - 1 (N-1 intervening tokens allowed).
    */
  final case class MatchProximity(maxSpan: Int) extends MatchMode

  final case class Query(
      terms: Seq[String] = Nil,
      mode: MatchMode = MatchAny,
      notTerms: Seq[String] = Nil, // Sphinx MATCH('a -b') negation
      filters: Map[String, Seq[String]] = Map.empty, // attr IN (…)
      tsFrom: Option[Timestamp] = None,
      tsTo: Option[Timestamp] = None,
      limit: Int = 100,
      offset: Int = 0,
      // alco LoggerColumn.display (D3): when set, the result projection is
      // the display-flagged columns (applied after ordering/limit, so it
      // never hides the sort keys from the plan).
      roles: Option[Seq[ColumnRole]] = None)

  /** Token-containment predicate over `text` (O14). ANY/ALL/QUORUM compile
    * to ONE codegen'd byte scan regardless of term count
    * (graft.functions.TermsMatch, r6: the previous per-term
    * `array_contains(split(lower(text), "\\W+"), t)` chain re-tokenized
    * the text once per term — filter predicates get no subexpression
    * elimination, so a 5-term AND match scanned the text 5×; TermsMatch
    * reproduces that formulation's containment semantics exactly,
    * ExprSpec-fuzzed and oracle-pinned by q05/q06/q36/q41/q44/q75/q81).
    */
  def matchPredicate(terms: Seq[String], mode: MatchMode): Column = {
    if (terms.isEmpty) return lit(true)
    val folded = terms.map(ByteScan.foldAscii)
    mode match {
      case MatchAny =>
        graft.functions.GraftFunctions.terms_match(col("text"), folded, 1)
      case MatchAll =>
        graft.functions.GraftFunctions.terms_match(col("text"), folded,
          folded.length)
      case MatchPhrase =>
        // Sphinx "phrase": the terms occur as consecutive TOKENS, not as a
        // raw substring — "retry logic" must not match "retry logical…".
        // Token boundaries = \b, token separators = any non-word run.
        // All-word-char phrases (the common case) compile to ONE codegen'd
        // byte scan (graft.functions.PhraseMatch, r6): for such terms the
        // \b…\W+…\b pattern accepts iff the tokenization contains the term
        // sequence as consecutive tokens — proven equivalent in ExprSpec
        // (fuzzed vs rlike) and oracle-pinned by q43. Terms carrying
        // non-word chars (or empty) keep the regex engine: there \W+ can
        // overlap term content and the token argument breaks down. `(?i)`
        // without `(?u)` folds A-Z only, as foldAscii, the byte scans and
        // the blooms do; `lower(text)` would turn U+212A into `k`, a token
        // no bloom holds, so pruning would drop the row.
        if (folded.forall(pureToken))
          graft.functions.GraftFunctions.phrase_match(col("text"), folded)
        else {
          val pat = folded.map(java.util.regex.Pattern.quote)
            .mkString("(?i)\\b", "\\W+", "\\b")
          col("text").rlike(pat)
        }
      case MatchQuorum(k) =>
        // k <= 0 degenerates to match-everything (the replaced sum >= k
        // formulation was constant-true, even for null text); TermsMatch
        // itself requires minHits >= 1
        if (k <= 0) lit(true)
        else graft.functions.GraftFunctions.terms_match(col("text"), folded, k)
      case MatchProximity(span) =>
        // ∃ window of `span` consecutive tokens containing every term —
        // a codegen'd single-pass byte scan (graft.functions.ProximityMatch;
        // the interpreted exists/slice HOF chain it replaced was
        // CodegenFallback and O(tokens·terms·span)). One projection: no
        // shuffle, no UDF, no array materialization.
        graft.functions.GraftFunctions.proximity_match(col("text"), folded, span)
    }
  }

  private def predicates(q: Query): Column = {
    val attr = q.filters.map { case (c, vs) => col(c).isin(vs: _*) }
      .foldLeft(lit(true))(_ && _)
    val range = (q.tsFrom, q.tsTo) match {
      case (Some(a), Some(b)) =>
        // day bounds first → partition pruning; ts bounds for exactness.
        col("day").between(to_date(lit(a)), to_date(lit(b))) &&
          col("ts").between(lit(a), lit(b))
      case (Some(a), None) => col("day") >= to_date(lit(a)) && col("ts") >= lit(a)
      case (None, Some(b)) => col("day") <= to_date(lit(b)) && col("ts") <= lit(b)
      case _ => lit(true)
    }
    val not =
      if (q.notTerms.isEmpty) lit(true)
      else !matchPredicate(q.notTerms, MatchAny) // -a -b: none may occur
    matchPredicate(q.terms, q.mode) && not && attr && range
  }

  /** Run a grep query over the routed table. Ordering is newest-first with
    * the stable seq tiebreak (alco: ts DESC, seq DESC) — a distributed
    * top-k (`TakeOrderedAndProjectExec`) when offset == 0, never a global
    * sort.
    */
  /** Reader resolves through the manifest's committed snapshot when one
    * exists (snapshot isolation: uncommitted/orphaned files are invisible);
    * falls back to a raw path read for unmanaged tables.
    */
  private[alco] def table(spark: SparkSession, routedPath: String): DataFrame =
    Manifest.readCommitted(spark, routedPath)
      .getOrElse(TableRead(spark, Seq(routedPath)))

  private def pureToken(t: String): Boolean =
    t.nonEmpty && t.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')

  /** Term-index probe plan: which tokens a matching row's file MUST contain,
    * and how many of them must hit (TermIndex sidecar semantics). None =
    * bloom pruning is not applicable for this query — never wrong, just a
    * full scan. Soundness per mode (tokens(text) never contains non-word
    * chars, so a term that is not a pure token can never equal a token):
    *  - ANY: a row matches only via a pure-token term, so a candidate file
    *    must contain >= 1 of the pure subset — unless a term is empty: it
    *    hits any text with a leading or trailing separator (TermsMatch),
    *    which no bloom records, so the query is not prunable;
    *  - ALL / PROXIMITY: every term must occur as a whole token — only
    *    prunable when all terms are pure (a non-pure term makes the
    *    predicate constant-false; full scan of that is still correct);
    *  - PHRASE: the rlike pattern quotes each term literally, so a term
    *    with separators ("a.b") matches across TWO tokens — probe the
    *    terms' word-tokens instead, all required;
    *  - QUORUM(k): k of the (pure) terms must occur as tokens.
    * notTerms never prune (negation has no bloom form).
    */
  private[alco] def probePlan(q: Query): Option[(Seq[String], Int)] = {
    val folded = q.terms.map(ByteScan.foldAscii)
    if (folded.isEmpty) return None
    q.mode match {
      case MatchAny =>
        val pure = folded.filter(pureToken).distinct
        if (pure.isEmpty || folded.contains("")) None else Some((pure, 1))
      case MatchAll | MatchProximity(_) =>
        if (!folded.forall(pureToken)) None
        else { val d = folded.distinct; Some((d, d.size)) }
      case MatchPhrase =>
        val toks = folded.flatMap(_.split("\\W+")).filter(_.nonEmpty).distinct
        if (toks.isEmpty) None else Some((toks, toks.size))
      case MatchQuorum(k) =>
        if (!folded.forall(pureToken)) None
        else {
          // quorum counts each LISTED term, so duplicates let one distinct
          // token contribute its multiplicity — the sound bound is the
          // smallest number of distinct terms whose multiplicities can
          // already reach k (greedy over descending multiplicity), not k
          // itself (["a","a","b"]/2 is satisfied by "a" alone).
          val d = folded.distinct
          val mults = folded.groupBy(identity).values.map(_.size).toSeq
            .sortBy(-_)
          val need = mults.scanLeft(0)(_ + _).indexWhere(_ >= k)
          Some((d, if (need < 0) d.size else need))
        }
    }
  }

  /** The scan a query runs over: the TermIndex-pruned committed file set
    * when a sidecar index exists and the match is prunable, else the full
    * committed table. The pruned read uses the file list the probe derived
    * (ONE manifest resolution — no re-read race), with `basePath` so
    * day/tool_key/role partition pruning still composes on top.
    */
  private def source(spark: SparkSession, routedPath: String, q: Query): DataFrame =
    probePlan(q).flatMap { case (toks, minMatch) =>
      TermIndex.pruneFiles(spark, routedPath, toks, minMatch)
    } match {
      case Some(p) if p.keep.isEmpty =>
        // no file can satisfy the match: keep the schema (one footer), zero rows
        TableRead(spark, Seq(s"$routedPath/${p.firstCommitted}"), Some(routedPath))
          .filter(lit(false))
      case Some(p) =>
        TableRead(spark, p.keep.map(f => s"$routedPath/$f"), Some(routedPath))
      case None => table(spark, routedPath)
    }

  def query(spark: SparkSession, routedPath: String, q: Query): DataFrame =
    ordered(source(spark, routedPath, q).filter(predicates(q)), q)

  /** Multi-sink grep (alco greps one index; the shard-union shape
    * generalizes): restrict one routed table to a set of (tool, role) sinks.
    * The filter is an OR of partition-column equalities, so Catalyst prunes
    * to exactly the selected sinks' directories — no full-table scan.
    */
  def querySinks(spark: SparkSession, routedPath: String,
                 sinks: Seq[SinkKey], q: Query): DataFrame = {
    require(sinks.nonEmpty, "at least one sink")
    val sel = sinks.map(s =>
        col("tool_key") === SinkKey.sanitize(s.tool) && col("role") === s.role)
      .reduce(_ || _)
    // bloom pruning composes with the sink selector: the pruned read keeps
    // the partition columns (basePath), so Catalyst still prunes the
    // selected sinks' directories out of the surviving file list
    ordered(source(spark, routedPath, q).filter(sel).filter(predicates(q)), q)
  }

  /** Cross-table grep: union several routed tables by name (alco's
    * multi-index `FROM i1,i2` analog) and run one query over the union.
    * `unionByName` tolerates column-order drift between sink schemas.
    */
  def queryTables(spark: SparkSession, routedPaths: Seq[String], q: Query): DataFrame = {
    require(routedPaths.nonEmpty, "at least one table")
    // each shard prunes against its OWN term index (tables index and
    // compact independently — an indexless shard just scans fully)
    val base = routedPaths.map(source(spark, _, q)).reduce(_ unionByName _)
    ordered(base.filter(predicates(q)), q)
  }

  // Newest-first; seq is the fast primary tiebreak but is only guaranteed
  // unique WITHIN a conversation (Route.seqCol packs a 32-bit conv hash, so
  // cross-conversation collisions are expected past ~77k conversations) —
  // the explicit (conv_id, turn_idx) tail makes the order total at any
  // scale (ADVICE r2).
  private val orderKeys =
    Seq(col("ts").desc, col("seq").desc, col("conv_id"), col("turn_idx"))

  private def ordered(base: DataFrame, q: Query): DataFrame = {
    val limited =
      if (q.offset == 0) base.orderBy(orderKeys: _*).limit(q.limit)
      else {
        val w = Window.orderBy(orderKeys: _*)
        base.orderBy(orderKeys: _*).limit(q.offset + q.limit)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > q.offset)
          .drop("__rn")
      }
    q.roles match {
      case Some(rs) =>
        val avail = limited.columns.toSet
        val display = rs.filter(r => r.display && !r.excluded && avail(r.name))
        if (display.isEmpty) limited
        else limited.select(display.map(r => col(r.name)): _*)
      case None => limited
    }
  }

  /** Pagination total (alco: Sphinx total_found, bounded by max_matches). */
  def total(spark: SparkSession, routedPath: String, q: Query,
            maxMatches: Option[Int] = None): Long =
    Agg.matchCount(source(spark, routedPath, q).filter(predicates(q)), maxMatches)

  /** Context view (O28): the ±n turns around a hit within its conversation
    * (alco: neighboring loglines in the same context group).
    */
  def context(spark: SparkSession, routedPath: String, convId: String,
              turnIdx: Int, n: Int): DataFrame =
    table(spark, routedPath)
      .filter(col("conv_id") === convId &&
        col("turn_idx").between(turnIdx - n, turnIdx + n))
      .orderBy(col("turn_idx"))

  /** Windowed variant used by the operator inventory (lag/lead frame): each
    * row with its neighboring texts inside its context group. The grouping
    * key is the `context`-flagged columns of the column-role config (alco
    * LoggerColumn.context — e.g. `host` groups a host's log stream; here
    * conv_id by default).
    */
  def withNeighbors(routed: DataFrame, n: Int = 1,
                    roles: Seq[ColumnRole] = Pipeline.defaultRoles): DataFrame = {
    val ctx = roles.filter(_.context).map(_.name)
    require(ctx.nonEmpty, "at least one context column role required")
    val w = Window.partitionBy(ctx.map(col): _*).orderBy(col("turn_idx"))
    routed
      .withColumn("prev_text", lag(col("text"), n).over(w))
      .withColumn("next_text", lead(col("text"), n).over(w))
  }
}
