package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BoundSql

/** Full-text search as an inverted-index posting table + match compiler
  * (SURVEY §7.5). Replaces the reference's SQLite FTS5 virtual tables
  * (graphydb.py:638-658 schema, 876-898 MATCH joins).
  *
  * Postings: `term STRING, field STRING, uid STRING, pos INT`, one row per
  * token occurrence (position = token index within its field, so phrase
  * adjacency is a positional self-join). Tokenizer ≈ FTS5's default
  * unicode61: lowercase, split on non-alphanumeric.
  *
  * Match grammar — the FTS5 subset the reference exercises
  * (test_graphdb.py:107-110 prefix `An*`; docstring graphydb.py:855
  * column-scoped `title: Quantum`; implicit/explicit AND) plus `OR`
  * branches, `"quoted phrases"`, binary `NOT` (set difference, as in FTS5:
  * `a NOT b` = matches of a minus matches of b; each branch needs ≥1
  * positive atom), and `NEAR(x y ..., n)` proximity groups (all members in
  * the same (uid, field) within a position window of `n`, default 10 —
  * phrase's `pos+1` self-join generalized to `greatest(pos…) − least(pos…)
  * ≤ n`). Every match also carries a `score` column (term-frequency: total
  * matching posting rows per uid; negated atoms contribute nothing),
  * reachable from fetch ORDER/extras as `<alias>_fts.score` — the analogue
  * of the reference ranking via ORDER passthrough (graphydb.py:956-962).
  */
object Fts {

  val TokenSplit = "[^\\p{L}\\p{N}]+"

  /** The unicode61 `remove_diacritics` fold applied to a driver-side query
    * token: NFD → strip combining marks → ROOT lowercase → NFC — the same
    * [[graft.functions.TextNorm]] core the `normalize_text` expression runs
    * distributed, so folded postings and folded query terms always agree. */
  def unicode61Fold(s: String): String =
    graft.functions.TextNorm.normalize(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  /** Posting rows for (uid, field, text) triples: lower → split → drop empty
    * slots → posexplode. One row PER OCCURRENCE (positions feed phrases,
    * multiplicity feeds tf scores); match sets always project DISTINCT uids.
    *
    * Empty slots are filtered BEFORE posexplode (r5): a field starting with
    * punctuation ("(red) october") splits to an empty first element, and
    * numbering the raw array would put the first real token at pos 1 —
    * breaking the `^anchor`'s `pos = 0` compile against FTS5 semantics,
    * where positions count tokens, not separator slots.
    *
    * `unicode61 = true` opts into the reference default tokenizer's
    * `remove_diacritics` behavior (FTS5 creates its tables with plain
    * unicode61, graphydb.py:652-658): tokens fold through the codegen'd
    * `normalize_text` expression (accent strip + lowercase) instead of
    * plain `lower`, so "café" and "cafe" index identically; pair with
    * [[matchSql]]'s matching flag so query terms fold the same way. The
    * default (false) keeps the pre-r14 ASCII-exact tokenizer — the plans
    * and postings are byte-identical to earlier rounds. */
  def postings(df: DataFrame, uidCol: String,
      fieldToTextCol: Map[String, String],
      unicode61: Boolean = false): DataFrame = {
    if (unicode61) graft.functions.GraftExtensions.register(df.sparkSession)
    val perField = fieldToTextCol.toSeq.map { case (field, textCol) =>
      // call_function, not an expr() string splice: both branches resolve
      // textCol through the same col() path (struct fields, odd names)
      val folded =
        if (unicode61) call_function("normalize_text", col(textCol))
        else lower(col(textCol))
      df.select(col(uidCol).as("uid"),
          posexplode(filter(split(folded, TokenSplit),
            t => t =!= "")).as(Seq("pos", "term")))
        .select(col("term"), lit(field).as("field"), col("uid"), col("pos"))
    }
    perField.reduce(_ unionByName _)
  }

  private sealed trait Atom { def field: Option[String] }
  private final case class Term(text: String, prefix: Boolean, field: Option[String],
      anchor: Boolean = false) extends Atom
  private final case class Phrase(tokens: Seq[String], field: Option[String],
      anchor: Boolean = false) extends Atom
  private final case class Near(members: Seq[Atom], dist: Int) extends Atom {
    val field: Option[String] = None // members carry their own scoping
  }

  /** Terms/phrases inside a NEAR(...) group (no OR/NOT/nesting inside, as in
    * FTS5); a punctuated bare member behaves as a phrase. `^` anchors a
    * member to the field's first token, as outside NEAR (r5 review fix:
    * previously the caret was silently stripped by tokenization). */
  private def parseMembers(s: String): Seq[Atom] = {
    val Tok = """(?:(-?\w+)\s*:\s*)?(\^)?"([^"]*)"|(\S+)""".r
    Tok.findAllMatchIn(s.trim).flatMap { m =>
      if (m.group(3) != null) {
        val field = Option(m.group(1)).map(_.toLowerCase)
        val anchor = m.group(2) != null
        val toks = m.group(3).toLowerCase.split(TokenSplit).filter(_.nonEmpty).toSeq
        if (toks.isEmpty) None
        else if (toks.size == 1) Some(Term(toks.head, prefix = false, field, anchor))
        else Some(Phrase(toks, field, anchor))
      } else {
        var t = m.group(4)
        var field: Option[String] = None
        if (t.contains(":")) {
          val Array(f, rest) = t.split(":", 2)
          field = Some(f.toLowerCase); t = rest
        }
        val anchor = t.startsWith("^")
        if (anchor) t = t.drop(1)
        val prefix = t.endsWith("*")
        val pieces = (if (prefix) t.dropRight(1) else t).toLowerCase
          .split(TokenSplit).filter(_.nonEmpty).toSeq
        if (pieces.isEmpty) None
        else if (pieces.size == 1) Some(Term(pieces.head, prefix, field, anchor))
        else Some(Phrase(pieces, field, anchor))
      }
    }.toSeq
  }

  /** Parse an FTS5-subset match string into an expression TREE. A
    * punctuated term splits the same way the indexer tokenizes ("don't" →
    * don AND t) so queries and postings agree; a trailing `*` applies
    * prefix matching to the final token; `"quoted text"` is a positional
    * phrase; `NOT` negates the following atom (all pieces, for a splitting
    * term); `NEAR(...)` groups are lifted out before tokenization (the
    * token regex cannot span them); uppercase OR/AND combine (OR binds
    * looser, as in FTS5); `(`…`)` groups nest the full grammar (r11 — the
    * last FTS5 grammar gap: `(a OR b) AND c`), and a preceding `field:` /
    * `{col list}:` scopes every unscoped atom inside the group, as FTS5's
    * colset-before-parens does. */
  /** Lift `NEAR(...)` groups out of the query, OUTSIDE double-quoted
    * phrases only (a phrase whose text happens to contain "NEAR(" stays a
    * literal phrase). Returns the rewritten string (placeholders
    * `\u0001<idx>` — survives tokenization, cannot occur in input) and the
    * lifted groups. */
  private def liftNears(q: String): (String, Seq[Near]) = {
    val nears = scala.collection.mutable.ArrayBuffer.empty[Near]
    val out = new StringBuilder
    var i = 0
    var inPhrase = false
    def isWordBoundary(idx: Int): Boolean =
      idx < 0 || idx >= q.length || !Character.isLetterOrDigit(q.charAt(idx))
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '"') { inPhrase = !inPhrase; out.append(c); i += 1 }
      else if (!inPhrase && q.regionMatches(i, "NEAR(", 0, 5) && isWordBoundary(i - 1)) {
        // closing paren OUTSIDE double quotes: a quoted member containing
        // ')' (NEAR("a ) b" c, 2)) must not truncate the group
        var j = i + 5
        var inQ = false
        var close = -1
        while (j < q.length && close < 0) {
          val cj = q.charAt(j)
          if (cj == '"') inQ = !inQ
          else if (cj == ')' && !inQ) close = j
          j += 1
        }
        if (close < 0) { out.append(c); i += 1 } // unclosed: leave as text
        else {
          val inner = q.substring(i + 5, close)
          // distance comma likewise only counts outside quotes
          val comma = {
            var k = 0; var last = -1; var qd = false
            while (k < inner.length) {
              val ck = inner.charAt(k)
              if (ck == '"') qd = !qd
              else if (ck == ',' && !qd) last = k
              k += 1
            }
            last
          }
          val (body, dist) =
            if (comma >= 0 && inner.substring(comma + 1).trim.matches("\\d+"))
              (inner.substring(0, comma), inner.substring(comma + 1).trim.toInt)
            else (inner, 10) // FTS5's default NEAR distance
          nears += Near(parseMembers(body), dist)
          out.append(" \u0001").append(nears.size - 1).append(' ')
          i = close + 1
        }
      } else { out.append(c); i += 1 }
    }
    (out.toString, nears.toSeq)
  }

  /** FTS5 column-LIST filter `{col1 col2}: atom` (r5): rewrite the braced
    * list — outside double quotes only — into a standalone comma-joined
    * field token `col1,col2:`, which then scopes the following atom through
    * the existing `pendingField` mechanism (same path as `field:` before a
    * NEAR placeholder). A `{...}` without a following `:` is left as text,
    * matching FTS5's treatment of it as a syntax error rather than a match.
    * Runs BEFORE liftNears so `{a b}: NEAR(x y, 2)` scopes the group. */
  private def liftColumnLists(q: String): String = {
    val out = new StringBuilder
    var i = 0
    var inPhrase = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '"') { inPhrase = !inPhrase; out.append(c); i += 1 }
      else if (!inPhrase && c == '{') {
        val close = q.indexOf('}', i + 1)
        // the colon must follow the brace (whitespace allowed, FTS5 form)
        var k = if (close < 0) -1 else close + 1
        while (k >= 0 && k < q.length && Character.isWhitespace(q.charAt(k))) k += 1
        if (close < 0 || k < 0 || k >= q.length || q.charAt(k) != ':') {
          out.append(c); i += 1 // not a column list: literal text
        } else {
          val cols = q.substring(i + 1, close).trim
            .split("\\s+").filter(_.nonEmpty)
          // FTS5 `-{col list}:` (r11): a standalone `-` just before the
          // brace negates the scope — strip it from the emitted text and
          // carry it as the internal `-` scope prefix
          val negated = {
            var e = out.length
            while (e > 0 && Character.isWhitespace(out.charAt(e - 1))) e -= 1
            e > 0 && out.charAt(e - 1) == '-' &&
              (e == 1 || Character.isWhitespace(out.charAt(e - 2)))
          }
          if (negated) out.setLength(out.lastIndexOf("-"))
          // `{}:` scopes to nothing sensible: drop the filter entirely
          if (cols.nonEmpty)
            out.append(' ').append(if (negated) "-" else "")
              .append(cols.mkString(",")).append(": ")
          i = k + 1
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Match-expression tree: leaves are atoms; AND = INTERSECT, OR = UNION,
    * NOT = EXCEPT (binary, `l` minus `r`, as in FTS5). The paren-free
    * subset parses to semantics identical to the flat pre-r11 grammar
    * (FtsPropertySpec pins both against the naive evaluator). */
  private sealed trait MNode
  private final case class MLeaf(atom: Atom) extends MNode
  private final case class MAnd(l: MNode, r: MNode) extends MNode
  private final case class MOr(l: MNode, r: MNode) extends MNode
  private final case class MNot(l: MNode, r: MNode) extends MNode

  /** Push a field scope onto an atom that has none of its own (FTS5
    * colset semantics — member scopes win over the group's). */
  private def scopeAtom(a: Atom, f: String): Atom = a match {
    case t: Term if t.field.isEmpty   => t.copy(field = Some(f))
    case p: Phrase if p.field.isEmpty => p.copy(field = Some(f))
    case n: Near => n.copy(members = n.members.map(scopeAtom(_, f)))
    case other => other
  }
  private def scopeNode(n: MNode, f: String): MNode = n match {
    case MLeaf(a)   => MLeaf(scopeAtom(a, f))
    case MAnd(l, r) => MAnd(scopeNode(l, f), scopeNode(r, f))
    case MOr(l, r)  => MOr(scopeNode(l, f), scopeNode(r, f))
    case MNot(l, r) => MNot(scopeNode(l, f), scopeNode(r, f))
  }

  /** Space out `(` / `)` OUTSIDE double-quoted phrases so the token regex
    * sees them standalone. Runs after [[liftNears]] (NEAR's own parens are
    * already consumed). A paren glued to a term (`iphone(tm)`) previously
    * vanished in tokenization (split on non-alphanumeric); spacing it into
    * an explicit group keeps every such query's match set unchanged. */
  private def spaceParens(q: String): String = {
    val out = new StringBuilder
    var inPhrase = false
    q.foreach { c =>
      if (c == '"') { inPhrase = !inPhrase; out.append(c) }
      else if (!inPhrase && (c == '(' || c == ')')) out.append(' ').append(c).append(' ')
      else out.append(c)
    }
    out.toString
  }

  /** One nesting level of the grouped parser. Branch semantics preserve
    * the flat grammar exactly: positive units chain with AND in arrival
    * order; a negated unit subtracts from the chain so far — set-equal to
    * the old "intersect all positives, then subtract negatives" because
    * (X − N) ∩ P = (X ∩ P) − N; negated units BEFORE any positive defer
    * to branch close (`NOT a b` keeps meaning b − a). */
  private final class PFrame(val field: Option[String], val negated: Boolean) {
    var orAcc: Option[MNode] = None
    var andAcc: Option[MNode] = None
    var leadingNegs: List[MNode] = Nil
    var pendingField: Option[String] = None
    var pendingNot = false
  }

  private def parseQuery(q: String): Option[MNode] = {
    val (cleaned0, nears) = liftNears(liftColumnLists(q))
    val cleaned = spaceParens(cleaned0)
    // optional `^` before a quoted phrase = FTS5 initial-token anchor
    val Tok = """(?:(-?\w+)\s*:\s*)?(\^)?"([^"]*)"|(\S+)""".r
    var stack: List[PFrame] = List(new PFrame(None, negated = false))
    def top = stack.head
    def takeField(inline: Option[String]): Option[String] = {
      val f = inline.map(_.toLowerCase).orElse(top.pendingField)
      top.pendingField = None
      f
    }
    def takeNot(): Boolean = { val n = top.pendingNot; top.pendingNot = false; n }
    def addUnit(u: MNode, neg: Boolean): Unit =
      if (neg) top.andAcc match {
        case Some(acc) => top.andAcc = Some(MNot(acc, u))
        case None      => top.leadingNegs = top.leadingNegs :+ u
      }
      else top.andAcc = Some(top.andAcc.map(MAnd(_, u)).getOrElse(u))
    def closeBranch(): Unit = {
      if (top.andAcc.isEmpty)
        require(top.leadingNegs.isEmpty,
          s"FTS branch needs at least one positive atom: '$q'")
      top.andAcc.foreach { chain =>
        val node = top.leadingNegs.foldLeft(chain)(MNot(_, _))
        top.orAcc = Some(top.orAcc.map(MOr(_, node)).getOrElse(node))
      }
      top.andAcc = None; top.leadingNegs = Nil
    }
    def closeGroup(): Unit = {
      closeBranch()
      val f = stack.head
      stack = stack.tail
      f.orAcc.foreach { sub => // an empty `()` group contributes nothing
        addUnit(f.field.map(scopeNode(sub, _)).getOrElse(sub), f.negated)
      }
    }
    // NO .trim here: trim strips every char <= 0x20 including a leading
    // placeholder byte; the tokenizer skips whitespace on its own
    Tok.findAllMatchIn(cleaned).foreach { m =>
      if (m.group(3) != null) {
        val field = takeField(Option(m.group(1)))
        val neg = takeNot()
        val anchor = m.group(2) != null
        val toks = m.group(3).toLowerCase.split(TokenSplit).filter(_.nonEmpty).toSeq
        if (toks.nonEmpty)
          addUnit(MLeaf(
            if (toks.size == 1) Term(toks.head, prefix = false, field, anchor)
            else Phrase(toks, field, anchor)), neg)
      } else m.group(4) match {
        case "OR" =>
          closeBranch()
          top.pendingNot = false // pendingField deliberately survives OR
        case "AND" => ()
        case "NOT" => top.pendingNot = true
        case "(" =>
          // a pending `field:` scopes the whole group; NOT negates it
          stack = new PFrame(takeField(None), takeNot()) :: stack
        case ")" =>
          if (stack.size > 1) closeGroup() // stray `)`: ignored, as before
        case t0 if t0.startsWith("") =>
          // a pending `field:` scopes every member without its own scope
          // (FTS5 column-scoped NEAR) and must be consumed either way
          val field = takeField(None)
          val near0 = nears(t0.drop(1).toInt)
          val near = field.map(f => near0.copy(members =
            near0.members.map(scopeAtom(_, f)))).getOrElse(near0)
          addUnit(MLeaf(near), takeNot())
        case t0 if t0.endsWith(":") =>
          top.pendingField = Some(t0.dropRight(1).toLowerCase)
        case t0 =>
          var t = t0
          var inline: Option[String] = None
          if (t.contains(":")) {
            val Array(f, rest) = t.split(":", 2)
            inline = Some(f); t = rest
          }
          val field = takeField(inline)
          // `^term` (or `field:^term`): anchor the first produced token
          val anchor = t.startsWith("^")
          if (anchor) t = t.drop(1)
          if (t.nonEmpty) {
            val prefix = t.endsWith("*")
            val neg = takeNot()
            val pieces = (if (prefix) t.dropRight(1) else t).toLowerCase
              .split(TokenSplit).filter(_.nonEmpty)
            pieces.zipWithIndex.foreach { case (piece, idx) =>
              addUnit(MLeaf(Term(piece, prefix && idx == pieces.length - 1,
                field, anchor && idx == 0)), neg)
            }
          }
      }
    }
    // unclosed `(` groups close implicitly — forgiving, like the old
    // grammar's silent paren stripping
    while (stack.size > 1) closeGroup()
    closeBranch()
    stack.head.orAcc
  }

  private def esc(s: String) = s.replace("'", "''")

  /** A field scope is a comma-joined list (single `field:` or the r5
    * `{col1 col2}:` column list — match in ANY listed field). A leading
    * `-` (r11, FTS5 `- colname :` / `-{col list}:`) NEGATES the scope:
    * match in any field NOT listed. */
  private def fieldCond(f: String, col: String): Option[String] = {
    val (neg, body) = if (f.startsWith("-")) (true, f.drop(1)) else (false, f)
    val fs = body.split(',').filter(_.nonEmpty)
    if (fs.isEmpty) None
    else {
      val in =
        if (fs.length == 1) s"$col = '${esc(fs.head)}'"
        else s"$col IN (${fs.map(x => s"'${esc(x)}'").mkString(", ")})"
      Some(if (neg) s"NOT ($in)" else in)
    }
  }

  private def termCond(t: Term, alias: String = ""): String = {
    val p = if (alias.isEmpty) "" else s"$alias."
    val base =
      if (t.prefix) s"${p}term LIKE '${esc(t.text)}%'"
      else s"${p}term = '${esc(t.text)}'"
    val scoped = t.field.flatMap(fieldCond(_, s"${p}field"))
      .map(fc => s"$base AND $fc").getOrElse(base)
    // FTS5 `^term`: initial-token anchor — postings carry positions, so the
    // anchor is just pos = 0 within the (uid, field)
    if (t.anchor) s"$scoped AND ${p}pos = 0" else scoped
  }

  /** FROM/JOIN/WHERE body of a positional phrase self-join: token i must sit
    * at pos0 + i in the same (uid, field). */
  private def phraseBody(view: String, ph: Phrase): String = {
    val joins = ph.tokens.tail.zipWithIndex.map { case (tok, i) =>
      val a = s"p${i + 1}"
      s"\nJOIN $view $a ON $a.uid = p0.uid AND $a.field = p0.field" +
        s" AND $a.pos = p0.pos + ${i + 1} AND $a.term = '${esc(tok)}'"
    }.mkString
    val where = s"p0.term = '${esc(ph.tokens.head)}'" +
      ph.field.flatMap(fieldCond(_, "p0.field")).map(" AND " + _).getOrElse("") +
      (if (ph.anchor) " AND p0.pos = 0" else "")
    s"FROM $view p0$joins\nWHERE $where"
  }

  /** Occurrence rows (uid, field, pos) of one NEAR member. */
  private def occSelect(view: String, a: Atom): String = a match {
    case t: Term   => s"SELECT uid, field, pos FROM $view WHERE ${termCond(t)}"
    case p: Phrase => s"SELECT p0.uid AS uid, p0.field AS field, p0.pos AS pos ${phraseBody(view, p)}"
    case _: Near   => throw new IllegalArgumentException("NEAR groups cannot nest")
  }

  /** FROM/JOIN/WHERE body of a NEAR proximity join: every member in the same
    * (uid, field), all member positions within the `dist` window (for
    * phrases, the position is the phrase start). */
  private def nearBody(view: String, n: Near): String = {
    require(n.members.nonEmpty, "empty NEAR group")
    val joins = n.members.zipWithIndex.tail.map { case (a, i) =>
      s"\nJOIN (${occSelect(view, a)}) o$i ON o$i.uid = o0.uid AND o$i.field = o0.field"
    }.mkString
    val ps = n.members.indices.map(i => s"o$i.pos")
    val window =
      if (n.members.size == 1) "TRUE"
      else s"greatest(${ps.mkString(", ")}) - least(${ps.mkString(", ")}) <= ${n.dist}"
    s"FROM (${occSelect(view, n.members.head)}) o0$joins\nWHERE $window"
  }

  private def matchSelect(view: String, a: Atom): String = a match {
    case t: Term   => s"SELECT DISTINCT uid FROM $view WHERE ${termCond(t)}"
    case p: Phrase => s"SELECT DISTINCT p0.uid AS uid ${phraseBody(view, p)}"
    case n: Near   => s"SELECT DISTINCT o0.uid AS uid ${nearBody(view, n)}"
  }

  private def scoreSelect(view: String, a: Atom): String = a match {
    case t: Term   => s"SELECT uid, COUNT(*) AS c FROM $view WHERE ${termCond(t)} GROUP BY uid"
    case p: Phrase => s"SELECT p0.uid AS uid, COUNT(*) AS c ${phraseBody(view, p)} GROUP BY p0.uid"
    // joins multiply rows, so the NEAR tf = distinct anchor positions that
    // participate in at least one qualifying window
    case n: Near   => s"SELECT o0.uid AS uid, COUNT(DISTINCT o0.pos) AS c ${nearBody(view, n)} GROUP BY o0.uid"
  }

  /** [[scoreSelect]] with FTS5-`bm25(idx, w1, w2…)` per-column weights:
    * each matched occurrence counts its field's weight instead of 1
    * (unlisted fields weigh 1.0). Same output shape (uid, c) — c becomes a
    * weighted sum. [[bm25Sql]] pairs this with a WEIGHTED doc length, so
    * together they mirror FTS5's bm25, which weights both the
    * term-frequency and |D| sums by the column weights. */
  /** The per-occurrence weight of a posting row under FTS5-style column
    * weights: its field's weight, 1.0 for unlisted fields. */
  private def fieldWeightCase(fieldCol: String, weights: Map[String, Double]): String =
    s"CASE ${weights.toSeq.sortBy(_._1).map { case (f, wt) =>
        s"WHEN $fieldCol = '${esc(f)}' THEN ${wt}" }.mkString(" ")} ELSE 1.0 END"

  private def weightedScoreSelect(view: String, a: Atom,
      weights: Map[String, Double]): String = {
    def w(fieldCol: String): String = fieldWeightCase(fieldCol, weights)
    a match {
      case t: Term   => s"SELECT uid, SUM(${w("field")}) AS c FROM $view WHERE ${termCond(t)} GROUP BY uid"
      case p: Phrase => s"SELECT p0.uid AS uid, SUM(${w("p0.field")}) AS c ${phraseBody(view, p)} GROUP BY p0.uid"
      // distinct anchor positions first (joins multiply rows), then weigh
      // each by its field
      case n: Near   =>
        s"""SELECT uid, SUM(${w("field")}) AS c FROM (
           |  SELECT DISTINCT o0.uid AS uid, o0.field AS field, o0.pos AS pos ${nearBody(view, n)}
           |) AS occs GROUP BY uid""".stripMargin
    }
  }

  /** Compile the match tree to a set-algebra SQL query: AND = INTERSECT,
    * OR = UNION, NOT = EXCEPT. Every composite operand is parenthesized, so
    * engine precedence rules (INTERSECT binds tighter than UNION/EXCEPT in
    * both Spark and DuckDB) can never reassociate the tree. */
  private def nodeMatch(view: String, n: MNode): String = n match {
    case MLeaf(a)   => matchSelect(view, a)
    case MAnd(l, r) => s"(${nodeMatch(view, l)})\nINTERSECT\n(${nodeMatch(view, r)})"
    case MOr(l, r)  => s"(${nodeMatch(view, l)})\nUNION\n(${nodeMatch(view, r)})"
    case MNot(l, r) => s"(${nodeMatch(view, l)})\nEXCEPT\n(${nodeMatch(view, r)})"
  }

  /** Atoms that contribute to scoring: every leaf NOT on the right side of
    * a NOT (FTS5: negated sides contribute nothing), in query order. */
  private def positives(n: MNode): Seq[Atom] = n match {
    case MLeaf(a)   => Seq(a)
    case MAnd(l, r) => positives(l) ++ positives(r)
    case MOr(l, r)  => positives(l) ++ positives(r)
    case MNot(l, _) => positives(l)
  }

  /** TRUE iff the tree is a pure disjunction of positive leaves (a single
    * atom counts). For that shape the match set IS `{uid | score > 0}`:
    * every score row comes from a positive atom, and any uid matching any
    * atom is in the OR's union — so [[matchSql]] can skip the match-set
    * UNION + join entirely and answer from the one grouped score pass
    * (r16: the g10-shape creep fix — half the subqueries, half the
    * stages). AND/NOT anywhere disables it: an intersected or negated
    * branch can exclude a uid that still scores. */
  private def orOnly(n: MNode): Boolean = n match {
    case MLeaf(_)  => true
    case MOr(l, r) => orOnly(l) && orOnly(r)
    case _         => false
  }

  /** SQL subquery over a postings view returning matching uids with a tf
    * `score` (total posting rows matched by any POSITIVE query atom).
    * AND-ed atoms INTERSECT; negated atoms EXCEPT; OR branches UNION. */
  /** Fold every term/phrase token in a parsed tree through
    * [[unicode61Fold]] — applied AFTER parsing so grammar keywords
    * (AND/OR/NOT/NEAR), field scopes, and prefix/anchor markers are
    * untouched; only the matchable text folds. */
  private def foldAtom(a: Atom): Atom = a match {
    case t: Term   => t.copy(text = unicode61Fold(t.text))
    case p: Phrase => p.copy(tokens = p.tokens.map(unicode61Fold))
    case n: Near   => n.copy(members = n.members.map(foldAtom))
  }
  private def foldNode(n: MNode): MNode = n match {
    case MLeaf(a)   => MLeaf(foldAtom(a))
    case MAnd(l, r) => MAnd(foldNode(l), foldNode(r))
    case MOr(l, r)  => MOr(foldNode(l), foldNode(r))
    case MNot(l, r) => MNot(foldNode(l), foldNode(r))
  }

  def matchSql(postingsView: String, query: String): String =
    matchSql(postingsView, query, unicode61 = false)

  /** [[matchSql]] with the query terms folded like a `unicode61 = true`
    * postings build (accented query, accented corpus, or both — all four
    * combinations match once both sides fold). */
  def matchSql(postingsView: String, query: String,
      unicode61: Boolean): String = {
    val root = parseQuery(query).map(n =>
      if (unicode61) foldNode(n) else n)
    require(root.nonEmpty, s"empty FTS match: '$query'")
    val scores = positives(root.get)
      .map(scoreSelect(postingsView, _))
      .mkString("\nUNION ALL\n")
    if (orOnly(root.get))
      // pure-OR fast path: the grouped score pass alone IS the match
      s"""SELECT uid, CAST(SUM(c) AS BIGINT) AS score
         |FROM ($scores) AS parts GROUP BY uid""".stripMargin
    else {
      val matches = nodeMatch(postingsView, root.get)
      s"""SELECT m.uid AS uid, s.score AS score
         |FROM ($matches) AS m
         |JOIN (SELECT uid, CAST(SUM(c) AS BIGINT) AS score
         |      FROM ($scores) AS parts GROUP BY uid) AS s
         |ON m.uid = s.uid""".stripMargin
    }
  }

  /** SQL subquery computing Okapi BM25 scores for a match (Lucene-style
    * idf: `ln(1 + (N − df + 0.5)/(df + 0.5))`): (uid, score ROUND roundTo).
    * Everything derives from the postings view — doc length = posting count
    * per uid, N/avgdl from one aggregate over it — so the same SQL runs on
    * any engine (the t05 oracle twin is textually the same formula). The
    * reference reaches bm25 via FTS5 ORDER passthrough (graphydb.py:956-962);
    * this is that surface re-expressed over the inverted index.
    * `fieldWeights` = FTS5's `bm25(idx, w1, w2…)` per-column weights —
    * both term frequency AND doc length become weight-scaled posting sums,
    * as in FTS5's implementation ([[weightedScoreSelect]]; empty map = the
    * unweighted formula, byte-identical SQL to pre-r11). */
  def bm25Sql(postingsView: String, query: String,
      k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 4,
      fieldWeights: Map[String, Double] = Map.empty,
      unicode61: Boolean = false): String = {
    val root = parseQuery(query).map(n =>
      if (unicode61) foldNode(n) else n)
    require(root.nonEmpty, s"empty FTS match: '$query'")
    val atoms = positives(root.get)
    val tfs = atoms.zipWithIndex.map { case (a, i) =>
      s"tf$i AS (${
        if (fieldWeights.isEmpty) scoreSelect(postingsView, a)
        else weightedScoreSelect(postingsView, a, fieldWeights)})"
    }
    // Per-atom document frequencies come from ONE tagged union + grouped
    // count instead of the former `(SELECT COUNT(*) FROM tf$i)` scalar
    // subqueries (r17 opt, guide §1.2 step 1 / §7.3): Spark executes each
    // scalar subquery as its own serial job whose final aggregation is a
    // single task — measured r16/r17, t05's profile was dominated by these
    // one-task stages. df values are the identical integers, so every
    // score is the same double arithmetic as before.
    val occs = atoms.indices
      .map(i => s"SELECT uid, $i AS atom, c FROM tf$i")
      .mkString("\nUNION ALL\n")
    // (k1+1) and (1-b) are pre-folded so both engines parse the SAME literal
    // (cross-engine '+' on inexact doubles can round differently)
    val part =
      s"""LN(1 + (st.n - d.df + 0.5) / (d.df + 0.5))
         |  * t.c * ${k1 + 1} / (t.c + $k1 * (${1 - b} + $b * l.len / st.avgdl))""".stripMargin
    // pure-OR trees: the match set IS the scored set (every score row comes
    // from a positive atom and any uid matching any atom is in the union),
    // so the per-atom match-set subqueries — n more reads of the postings
    // view — are skipped entirely, mirroring matchSql's r16 fast path
    val matchJoin =
      if (orOnly(root.get)) ""
      else
        s"""JOIN (${nodeMatch(postingsView, root.get)}) AS m
           |ON m.uid = s.uid""".stripMargin
    // with weights, doc length is the WEIGHTED posting count (FTS5's bm25
    // weights both tf and |D|); unweighted emits the pre-r11 SQL unchanged
    val lenExpr =
      if (fieldWeights.isEmpty) "COUNT(*)"
      else s"SUM(${fieldWeightCase("field", fieldWeights)})"
    s"""WITH lens AS (SELECT uid, $lenExpr AS len FROM $postingsView GROUP BY uid),
       |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM lens),
       |${tfs.mkString(",\n")},
       |occs AS ($occs),
       |dfs AS (SELECT atom, COUNT(*) AS df FROM occs GROUP BY atom)
       |SELECT s.uid AS uid, ROUND(s.score, $roundTo) AS score
       |FROM (SELECT t.uid AS uid, SUM($part) AS score
       |      FROM occs t JOIN dfs d ON d.atom = t.atom
       |      JOIN lens l ON l.uid = t.uid CROSS JOIN stats st
       |      GROUP BY t.uid) AS s
       |$matchJoin""".stripMargin
  }

  /** Incremental posting maintenance at scale (the distributed twin of
    * `updatefts`, graphydb.py:1165-1196): drop every posting of the updated
    * uids, append freshly tokenized ones. One anti-join + union — no
    * full-index rebuild. `updates`: (uid, field→text columns as in
    * [[postings]]). */
  /** FTS5-`snippet()` analogue (graphydb reaches it only via raw SQL
    * passthrough, graphydb.py:810-811): for each document matching ≥1 term,
    * render the best `maxTokens`-token window with match terms wrapped in
    * `startMark`/`endMark` and an `ellipsis` on each trimmed side.
    *
    * Deterministic contract (documented divergence from SQLite's heuristic):
    * candidate windows anchor at each match position; the winner maximizes
    * (distinct query terms in window, then occurrence count, then earliest
    * anchor); the window start then pulls back to fill trailing slack at
    * the text's end. Rendering uses the SAME lowercase token stream the
    * postings index is built from (this engine's tokenizer discards
    * original separators/case by design — [[postings]]).
    *
    * Scale shape (r10 — [[highlight]]'s row-local lesson taken to
    * completion): the WHOLE operator is row-local, exactly like FTS5's own
    * per-row aux function. A row's match positions are a tiny array
    * (bounded by the query terms' frequency in that one document), so the
    * window choice — score every anchor, pick the best — is an O(m²)
    * higher-order-function pass over that array, and rendering slices the
    * row's own tokens. ZERO joins, ZERO shuffles, one corpus scan; the
    * former shape exploded the corpus token stream, self-joined match
    * positions, ranked via a window function and re-assembled windows
    * through a groupBy — four exchanges for work every row can do alone
    * (the g17 rewrite measured 2.4× on the cheaper half of that plan). */
  def snippet(df: DataFrame, uidCol: String, textCol: String, terms: Seq[String],
      maxTokens: Int = 8, startMark: String = "<b>", endMark: String = "</b>",
      ellipsis: String = "...", unicode61: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "snippet needs at least one term")
    require(maxTokens >= 1, "window must hold at least one token")
    if (unicode61) graft.functions.GraftExtensions.register(df.sparkSession)
    val lowered =
      if (unicode61) terms.map(unicode61Fold) else terms.map(_.toLowerCase)
    // (pos, term) of every query-term occurrence, 0-based over the same
    // normalized token stream as [[postings]] (folded when the index is)
    val foldedText =
      if (unicode61) call_function("normalize_text", col(textCol))
      else lower(col(textCol))
    val toksC = filter(split(foldedText, TokenSplit), t => t =!= "")
    val hitsC = filter(
      transform(col("_toks"), (t, i) => struct(i.as("pos"), t.as("term"))),
      s => s.getField("term").isin(lowered: _*))
    // best anchor = lexicographic min of (−distinct terms, −hits, anchor)
    // over the row's own hit array — struct comparison gives the same
    // (nterms DESC, nhits DESC, anchor ASC) order the ranked form used
    val bestC = array_min(transform(col("_hits"), h => {
      val a = h.getField("pos")
      val inWin = filter(col("_hits"),
        q => q.getField("pos") >= a && q.getField("pos") < a + maxTokens)
      struct(
        (-size(array_distinct(transform(inWin, q => q.getField("term"))))).as("negterms"),
        (-size(inWin)).as("neghits"),
        a.as("anchor"))
    }))
    df.withColumn("_toks", toksC)
      .withColumn("_hits", hitsC)
      .filter(size(col("_hits")) > 0)
      .withColumn("_ntok", size(col("_toks")))
      .withColumn("_wstart",
        greatest(lit(0), least(bestC.getField("anchor"), col("_ntok") - maxTokens)))
      .select(col(uidCol).as("uid"),
        concat(
          when(col("_wstart") > 0, lit(ellipsis)).otherwise(lit("")),
          concat_ws(" ",
            transform(slice(col("_toks"), col("_wstart") + 1, lit(maxTokens)), t =>
              when(t.isin(lowered: _*), concat(lit(startMark), t, lit(endMark)))
                .otherwise(t))),
          when(col("_wstart") + maxTokens < col("_ntok"), lit(ellipsis))
            .otherwise(lit(""))).as("snippet"))
  }

  /** FTS5-style `highlight()`: the WHOLE tokenized text with every query
    * term wrapped in marks — [[snippet]]'s whole-document sibling and the
    * last FTS5 aux function this surface lacked (reachable in the
    * reference only via raw SQL passthrough, graphydb.py FTS helpers).
    * Works over the same normalized token stream as [[postings]];
    * reassembly is single-space joined. Rows without a match are excluded
    * (FTS5 evaluates aux functions on MATCHING rows only), and `nmatches`
    * rides along so a ranking consumer needs no second pass. */
  def highlight(df: DataFrame, uidCol: String, textCol: String,
      terms: Seq[String], startMark: String = "<b>",
      endMark: String = "</b>", unicode61: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "highlight needs at least one term")
    if (unicode61) graft.functions.GraftExtensions.register(df.sparkSession)
    val lowered =
      if (unicode61) terms.map(unicode61Fold) else terms.map(_.toLowerCase)
    // PURE MAP WORK: the source row already holds its tokens in order, so
    // marking is a row-local array transform — unlike [[snippet]] (whose
    // window CHOICE genuinely joins match positions), highlight never
    // needs to explode or shuffle the corpus token stream
    df.withColumn("_toks",
        filter(split(
          if (unicode61) call_function("normalize_text", col(textCol))
          else lower(col(textCol)), TokenSplit), t => t =!= ""))
      .select(col(uidCol).as("uid"),
        concat_ws(" ", transform(col("_toks"), t =>
          when(t.isin(lowered: _*), concat(lit(startMark), t, lit(endMark)))
            .otherwise(t))).as("highlighted"),
        size(filter(col("_toks"), t => t.isin(lowered: _*)))
          .cast("long").as("nmatches"))
      .filter(col("nmatches") > 0)
  }

  def upsertPostings(current: DataFrame, updates: DataFrame, uidCol: String,
      fieldToTextCol: Map[String, String]): DataFrame = {
    val fresh = postings(updates, uidCol, fieldToTextCol)
    current.join(updates.select(col(uidCol).as("uid")).distinct(), Seq("uid"), "left_anti")
      .unionByName(fresh)
  }

  /** Distributed `deletefts` (graphydb.py:1237-1244): drop postings by uid. */
  def deletePostings(current: DataFrame, uids: DataFrame, uidCol: String = "uid"): DataFrame =
    current.join(uids.select(col(uidCol).as("uid")).distinct(), Seq("uid"), "left_anti")

  /** `sql` over `postings` bound by plan under one fixed relation name
    * (`org.apache.spark.sql.graft.BoundSql`): no temp view is registered,
    * so a match leaves the session catalog as it was. */
  private def overPostings(postings: DataFrame)(sql: String => String): DataFrame =
    BoundSql(postings.sparkSession, sql(PostingsName))(
      name => if (name.equalsIgnoreCase(PostingsName)) Some(postings) else None)

  private val PostingsName = "graft_fts_postings"

  /** DataFrame form of a match: DISTINCT matching uids. `unicode61` folds
    * the query terms to match a `unicode61 = true` postings build. */
  def matchUids(postings: DataFrame, query: String,
      unicode61: Boolean = false): DataFrame =
    overPostings(postings)(matchSql(_, query, unicode61)).select("uid")

  /** DataFrame form with the tf ranking column: (uid, score). */
  def matchScores(postings: DataFrame, query: String): DataFrame =
    overPostings(postings)(matchSql(_, query))

  /** [[matchScores]] over a `unicode61 = true` postings build: query terms
    * fold through the same diacritic-stripping normalizer the index used. */
  def matchScoresU61(postings: DataFrame, query: String): DataFrame =
    overPostings(postings)(matchSql(_, query, unicode61 = true))

  /** DataFrame form of [[bm25Sql]]: (uid, score). `fieldWeights` = FTS5
    * `bm25(idx, w1, w2…)` per-column weights (unlisted fields weigh 1.0). */
  def matchBm25(postings: DataFrame, query: String,
      k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 4,
      fieldWeights: Map[String, Double] = Map.empty,
      unicode61: Boolean = false): DataFrame = {
    // bm25Sql reads the postings view ≥ 4 times (lens, one tf CTE per atom,
    // the per-atom df scalar subqueries, the match set) — over DERIVED
    // postings (tokenize + posexplode of the corpus) each read re-runs the
    // whole derivation, and the df scalar subqueries run it as SERIAL
    // one-task stages (measured r16 opt: t05 = six ~250 ms single-task
    // stages, all the same tokenize). Materialize once so every view read
    // scans stored blocks (guide §5 caching-when-reused). localCheckpoint,
    // NOT persist: Dataset.persist registers the plan in the session's
    // CacheManager, which holds it STRONGLY until an explicit unpersist —
    // and the result is lazy, so there is no safe point to unpersist inside
    // this call; every distinct postings plan would pin a corpus-sized
    // MEMORY_AND_DISK entry for the session's lifetime (r16 verdict: the
    // best explanation for the bench's d-family contention). A local
    // checkpoint's blocks belong to the result plan's RDD instead, so the
    // ContextCleaner really does free them once the caller drops the
    // result. Postings already cached by their owner (StarGraph's per-kind
    // cache) are used as-is. NOTE this call is therefore EAGER (one job
    // materializes the postings before the lazy result is returned) — same
    // eagerness the r16 persist+count had.
    val p =
      if (postings.storageLevel != org.apache.spark.storage.StorageLevel.NONE) postings
      else postings.localCheckpoint(eager = true)
    overPostings(p)(bm25Sql(_, query, k1, b, roundTo, fieldWeights,
      unicode61))
  }
}
