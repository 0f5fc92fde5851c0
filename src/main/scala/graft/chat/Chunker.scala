package graft.chat

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.chat.Schemas.CodeChunk

/** Repository scan + chunking (reference: src/chunker.rs).
  *
  * Spark-first shape: `binaryFile` recursive scan -> supported-extension
  * filter (P1) -> flatMap chunk split (P3, the UDTF shape) -> projection
  * (P4) -> observable stats (P5). The reference uses tree-sitter
  * AST-aligned chunks (chunker.rs:89-116); tree-sitter isn't on the JVM
  * classpath, so chunking parity here is BEHAVIORAL: deterministic
  * line-greedy packing with max_size=1000 chars (chunker.rs:70),
  * hard-splitting oversized lines, per-file chunk order preserved.
  *
  * Gitignore semantics (chunker.rs:22 WalkBuilder standard_filters):
  * Spark has no gitignore-aware source, so a driver-side pre-pass parses
  * root .gitignore patterns into a path filter column (simple glob
  * subset: dir names, *.ext, exact paths) — enough for standard layouts.
  */
object Chunker {

  val MaxChunkSize = 1000 // chars, chunker.rs:70

  /** Greedy line-packing chunk split: each chunk <= maxSize chars,
    * lines never split unless a single line exceeds maxSize. */
  def splitContent(content: String, maxSize: Int = MaxChunkSize): Seq[String] = {
    if (content.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    val parts = content.split("\n", -1)
    parts.zipWithIndex.foreach { case (p, i) =>
      // re-attach the newline we split on; the FINAL part never had one
      // (for n newlines, split -1 yields n+1 parts)
      val line = if (i < parts.length - 1) p + "\n" else p
      if (line.isEmpty) ()
      else if (line.length > maxSize) {
        flush()
        line.grouped(maxSize).foreach(out += _)
      } else {
        if (cur.length + line.length > maxSize) flush()
        cur ++= line
      }
    }
    flush()
    out.toSeq
  }

  /** Structure-aware chunk split — narrows the tree-sitter gap
    * (reference chunker.rs:89-116 delegates to the code-splitter crate:
    * parse to an AST, recursively descend into nodes larger than
    * max_size, greedily merge adjacent siblings that fit): content
    * first divides into top-level UNITS — brace-balance tracking for
    * brace languages (a unit ends on the line where the brace depth
    * returns to 0, i.e. a top-level fn / impl / class closes), column-0
    * starts for indent languages (Python), def/end keyword tracking for
    * Ruby, heading sections for Markdown — then whole units pack
    * greedily into chunks <= maxSize, so chunk boundaries fall between
    * top-level declarations whenever they can. An oversized BRACE unit
    * (a class/namespace wrapper bigger than the budget, the Java/C#
    * shape) recursively peels its header and closing line and re-splits
    * the interior at the next brace level — the same descend-and-merge
    * the crate does on AST children, so chunk boundaries inside a big
    * class land between METHODS, not mid-statement. Oversized
    * indent/heading/Ruby units fall back to the line-greedy splitter
    * (documented delta, SURVEY §8). Units are contiguous line spans, so
    * concatenation round-trips exactly, like splitContent — unlike the
    * reference, whose chunks are node-aligned byte ranges that drop
    * inter-chunk whitespace (SURVEY §8 delta table). */
  def splitStructured(content: String, language: Option[String],
                      maxSize: Int = MaxChunkSize): Seq[String] = {
    if (content.isEmpty) return Seq.empty
    val mode: UnitMode =
      if (language.contains("Python")) IndentMode
      else if (language.contains("Markdown")) HeadingMode
      else if (language.contains("Ruby")) RubyMode
      else BraceMode
    packUnits(unitsOf(toLines(content), mode), maxSize, mode)
  }

  private sealed trait UnitMode
  private case object BraceMode extends UnitMode
  private case object IndentMode extends UnitMode
  private case object HeadingMode extends UnitMode
  private case object RubyMode extends UnitMode

  /** Column-0 keywords that CONTINUE an open Ruby construct rather than
    * starting a new top-level unit. */
  private val RubyContinuations =
    Set("end", "else", "elsif", "rescue", "ensure", "when", "in", "then")

  /** One-line lexical pass that blanks what a real lexer would not
    * count as code: `//` line comments, `/* ... */` block comments
    * (state threads across lines via `inBlock`), double-quoted string
    * bodies (backslash escapes honored), and short char literals
    * (`'x'` / `'\n'` — a lone `'` such as a Rust lifetime is left
    * alone). Delimiter counting over the stripped view is what keeps
    * a parenthesis in prose or a brace in a string from steering the
    * brace tracker (the r13 stray-paren class at its root). Stripped
    * regions are dropped, not blanked — callers only count and check
    * line endings. Returns (strippedLine, inBlockAfter). */
  private[graft] def stripLiterals(line: String, inBlock: Boolean): (String, Boolean) = {
    val sb = new StringBuilder(line.length)
    var i = 0
    var block = inBlock
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (block) {
        if (c == '*' && i + 1 < n && line.charAt(i + 1) == '/') { block = false; i += 2 }
        else i += 1
      } else if (c == '/' && i + 1 < n && line.charAt(i + 1) == '/') {
        i = n // line comment: drop the rest
      } else if (c == '/' && i + 1 < n && line.charAt(i + 1) == '*') {
        block = true; i += 2
      } else if (c == '"') {
        // consume to the closing quote (or EOL for an unterminated /
        // multi-line string — the backstop reset covers that leak)
        i += 1
        var closed = false
        while (i < n && !closed) {
          val sc = line.charAt(i)
          if (sc == '\\') i += 2
          else if (sc == '"') { closed = true; i += 1 }
          else i += 1
        }
      } else if (c == '\'') {
        // char literal only when it closes within 2 chars (escaped: 3);
        // otherwise keep scanning — `'a` lifetimes, apostrophes in
        // identifiers-adjacent positions
        val lit =
          if (i + 3 < n && line.charAt(i + 1) == '\\' && line.charAt(i + 3) == '\'') 4
          else if (i + 2 < n && line.charAt(i + 1) != '\'' && line.charAt(i + 2) == '\'') 3
          else 0
        if (lit > 0) i += lit
        else { sb.append(c); i += 1 }
      } else {
        sb.append(c); i += 1
      }
    }
    (sb.toString, block)
  }

  private def toLines(content: String): IndexedSeq[String] = {
    val parts = content.split("\n", -1)
    parts.zipWithIndex.map { case (p, i) =>
      if (i < parts.length - 1) p + "\n" else p
    }.filter(_.nonEmpty).toIndexedSeq
  }

  private def indentOf(line: String): Int =
    line.takeWhile(_.isWhitespace).length

  /** Top-level unit grouping: maximal contiguous line spans ending at a
    * structural boundary for the mode. `baseIndent` generalizes the
    * indent/ruby column-0 rule to an interior nesting level, which is
    * how the oversized-unit descent re-splits a class body at its
    * members (tree-sitter's children live one level deeper). */
  private def unitsOf(lines: IndexedSeq[String], mode: UnitMode,
                      baseIndent: Int = 0)
      : Seq[IndexedSeq[String]] = {
    val units = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    def flushUnit(): Unit =
      if (cur.nonEmpty) { units += cur.toIndexedSeq; cur.clear() }
    var depth = 0
    var paren = 0
    var brack = 0
    var parenHold = 0
    var inBlockComment = false
    var inFence = false
    // decorators and comment runs bind FORWARD onto the def/class they
    // annotate (the reference's AST nodes carry leading trivia the same
    // way), so "@decorator\ndef f():" never splits across units.
    // Tracked incrementally (true while the open unit holds only
    // blank/decorator/comment lines) — rescanning the unit per line
    // would be quadratic over long comment runs.
    var onlyTrivia = true
    lines.foreach { line =>
      mode match {
        case IndentMode =>
          // a non-blank base-level line starts a new unit: a def/class
          // plus its deeper-indented block stays one unit
          val t = line.trim
          if (t.nonEmpty && indentOf(line) <= baseIndent &&
              !(cur.nonEmpty && onlyTrivia)) {
            flushUnit(); onlyTrivia = true
          }
          if (!(t.isEmpty || t.startsWith("@") || t.startsWith("#"))) onlyTrivia = false
          cur += line
        case RubyMode =>
          // Python's base-level rule, except a continuation keyword
          // (end/else/rescue/...) never opens a unit, and a base-level
          // `end` CLOSES one — so `def ... end` / `class ... end`
          // blocks stay whole, matching tree-sitter-ruby's method and
          // class nodes
          val t = line.trim
          val word = t.takeWhile(c => c.isLetterOrDigit || c == '_')
          val col0 = t.nonEmpty && indentOf(line) <= baseIndent
          if (col0 && !RubyContinuations.contains(word) &&
              !(cur.nonEmpty && onlyTrivia)) {
            flushUnit(); onlyTrivia = true
          }
          if (!(t.isEmpty || t.startsWith("#"))) onlyTrivia = false
          cur += line
          if (col0 && word == "end") { flushUnit(); onlyTrivia = true }
        case HeadingMode =>
          // units are heading sections; fenced code is opaque (a '#'
          // inside ``` is a comment, not a heading)
          val t = line.trim
          if (t.startsWith("```") || t.startsWith("~~~")) {
            cur += line; inFence = !inFence
          } else {
            if (!inFence && t.startsWith("#")) flushUnit()
            cur += line
          }
        case BraceMode =>
          // Allman-style bare `{`: the brace belongs to the header
          // line just flushed (`namespace X` / `public void F()`), so
          // pull it back — tree-sitter's declaration node spans both.
          // Only a brace-free unit whose last line can't be a complete
          // statement (no trailing `;`/`}`, not a comment/preprocessor
          // line) qualifies as a dangling header.
          val t = line.trim
          if (t.startsWith("{") && cur.isEmpty && units.nonEmpty) {
            val lastU = units.last
            val lt = lastU.last.trim
            if (lt.nonEmpty && !lt.endsWith(";") && !lt.endsWith("}") &&
                !lt.startsWith("//") && !lt.startsWith("/*") &&
                !lt.startsWith("*") && !lt.startsWith("#") &&
                !lastU.exists(l => l.contains('{') || l.contains('}'))) {
              cur ++= lastU
              units.remove(units.length - 1)
            }
          }
          cur += line
          // delimiters are counted on the COMMENT-AND-STRING-STRIPPED
          // view of the line (round 15): tree-sitter never counts a
          // brace in a string literal or a paren in prose, and raw
          // counting was the root cause of the r13 stray-paren glue —
          // a '(' in a comment read as an open call
          val code = stripLiterals(line, inBlockComment)
          inBlockComment = code._2
          val cl = code._1
          depth = math.max(0, depth + cl.count(_ == '{') - cl.count(_ == '}'))
          // open parens/brackets keep a unit alive across a multi-line
          // signature or call (tree-sitter's declaration node spans
          // the whole parameter list) — but only for a bounded run:
          // unlexable content (an unterminated raw string spanning
          // lines) can still leak an unbalanced '(' into the counts
          paren = math.max(0, paren + cl.count(_ == '(') - cl.count(_ == ')'))
          brack = math.max(0, brack + cl.count(_ == '[') - cl.count(_ == ']'))
          // backstop (ADVICE r13, narrowed r14): a depth-0 line that
          // ENDS a statement (trailing ';' or '}') while parens read
          // open AND the imbalance has already persisted across a
          // depth-0 line boundary (parenHold grew) is treated as a
          // leaked stray — reset so it can't glue the rest of the
          // file. The parenHold gate spares a legal multi-line call
          // whose block-lambda argument line ends `}` (the depth
          // excursion through the block zeroes parenHold), which the
          // r13 form re-split at the argument line (ADVICE r14 low).
          if (depth == 0 && (paren > 0 || brack > 0) && parenHold > 0) {
            val te = cl.trim // stripped: `x = 1; // note` still ends ';'
            if (te.endsWith(";") || te.endsWith("}")) { paren = 0; brack = 0 }
          }
          if (depth == 0 && paren == 0 && brack == 0) {
            flushUnit() // top-level statement or block closed
            parenHold = 0
          } else if (depth == 0) {
            parenHold += 1
            if (parenHold > 8) { paren = 0; brack = 0; flushUnit(); parenHold = 0 }
          } else parenHold = 0
      }
    }
    flushUnit()
    units.toSeq
  }

  /** Greedy packing of whole units into <= maxSize chunks; an oversized
    * unit recursively descends one structural level (brace peel, indent
    * level, paragraph split) before any line-greedy fallback — the
    * descend-into-children step of the reference's AST splitter, per
    * mode. */
  private def packUnits(units: Seq[IndexedSeq[String]], maxSize: Int,
                        mode: UnitMode): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val chunk = new StringBuilder
    def flushChunk(): Unit =
      if (chunk.nonEmpty) { out += chunk.toString; chunk.clear() }
    units.foreach { u =>
      val s = u.mkString
      if (s.length > maxSize) {
        flushChunk()
        out ++= (mode match {
          case BraceMode   => splitBraceUnit(u, maxSize)
          case IndentMode  => splitIndentUnit(u, maxSize, ruby = false)
          case RubyMode    => splitIndentUnit(u, maxSize, ruby = true)
          case HeadingMode => splitHeadingUnit(u, maxSize)
        })
      } else {
        if (chunk.length + s.length > maxSize) flushChunk()
        chunk ++= s
      }
    }
    flushChunk()
    out.toSeq
  }

  /** Oversized brace unit: if it is ONE brace-wrapped block (header
    * line opens, depth stays >= 1 until the closing line — a class,
    * impl, namespace, or long function), peel header and footer and
    * re-split the interior at the next brace level, then greedily pack
    * header + interior chunks + footer. This is the descend-into-
    * children step of the reference's splitter (code-splitter's
    * recursive split over AST nodes larger than max_size); anything
    * that doesn't peel cleanly falls back to the line-greedy split. */
  private def splitBraceUnit(u: IndexedSeq[String], maxSize: Int): Seq[String] = {
    if (u.length >= 3) {
      // same stripped-view counting as unitsOf, so the peel sees the
      // depths the unit grouping saw (a brace in a string must not
      // desynchronize the two passes)
      val depths = u.scanLeft((0, false)) { case ((d, ib), l) =>
        val (cl, ib2) = stripLiterals(l, ib)
        (math.max(0, d + cl.count(_ == '{') - cl.count(_ == '}')), ib2)
      }.tail.map(_._1)
      // the header may span several lines (an Allman-style `{` on its
      // own line, a multi-line signature): it ends on the first line
      // after which the block is open, and the block must then stay
      // open until the closing line
      val openIdx = depths.indexWhere(_ >= 1)
      if (openIdx >= 0 && openIdx < u.length - 2 && depths.last == 0 &&
          depths.slice(openIdx, depths.length - 1).forall(_ >= 1)) {
        val innerChunks =
          packUnits(unitsOf(u.slice(openIdx + 1, u.length - 1), BraceMode),
            maxSize, BraceMode)
        return packPieces(
          u.take(openIdx + 1).mkString +: innerChunks :+ u.last, maxSize)
      }
    }
    splitContent(u.mkString, maxSize)
  }

  /** Oversized indent/Ruby unit (a class bigger than the budget whose
    * body is one indent level deeper — tree-sitter's class_definition
    * with a block child): peel the base-level header lines (and, for
    * Ruby, the closing base-level `end`), re-split the body at ITS
    * indent level, and greedily re-pack — so a big Python/Ruby class
    * breaks between METHODS. Anything that doesn't descend cleanly
    * (no deeper body, mixed indentation) falls back to the line-greedy
    * split. */
  private def splitIndentUnit(u: IndexedSeq[String], maxSize: Int,
                              ruby: Boolean): Seq[String] = {
    // an oversized unit of ONLY blank/whitespace lines (indent modes
    // never flush blank-only runs) has no indent to descend into —
    // without this guard the .min below throws on the empty collection
    // and kills the whole chunking job on one degenerate file
    val nonBlankAll = u.filter(_.trim.nonEmpty)
    if (nonBlankAll.isEmpty) return splitContent(u.mkString, maxSize)
    val baseI = nonBlankAll.map(indentOf).min
    val bodyStart = u.indexWhere(l => l.trim.nonEmpty && indentOf(l) > baseI)
    if (bodyStart > 0) {
      val hasEnd = ruby && u.last.trim == "end" && indentOf(u.last) <= baseI
      val body = if (hasEnd) u.slice(bodyStart, u.length - 1) else u.drop(bodyStart)
      val nonBlank = body.filter(_.trim.nonEmpty)
      val bodyI = if (nonBlank.isEmpty) baseI else nonBlank.map(indentOf).min
      // base-indent lines inside the body (a top-level else:, a dedent
      // mid-unit) mean the unit is not a single header+block — line-split
      if (body.nonEmpty && bodyI > baseI) {
        val mode: UnitMode = if (ruby) RubyMode else IndentMode
        val inner = packUnits(unitsOf(body, mode, bodyI), maxSize, mode)
        val pieces = (u.take(bodyStart).mkString +: inner) ++
          (if (hasEnd) Seq(u.last) else Seq.empty)
        return packPieces(pieces, maxSize)
      }
    }
    splitContent(u.mkString, maxSize)
  }

  /** Oversized Markdown section (no internal headings by construction —
    * unitsOf flushes on every heading line): descend to PARAGRAPHS,
    * tree-sitter-md's block children. A new paragraph starts at a
    * non-blank line after a blank one; fenced code stays opaque, so a
    * blank line inside ``` never splits the fence. */
  private def splitHeadingUnit(u: IndexedSeq[String], maxSize: Int): Seq[String] = {
    val units = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inFence = false
    var prevBlank = false
    u.foreach { line =>
      val t = line.trim
      if (!inFence && t.nonEmpty && prevBlank && cur.nonEmpty) {
        units += cur.toString; cur.clear()
      }
      cur ++= line
      if (t.startsWith("```") || t.startsWith("~~~")) inFence = !inFence
      prevBlank = t.isEmpty && !inFence
    }
    if (cur.nonEmpty) units += cur.toString
    packPieces(units.toSeq, maxSize)
  }

  /** Greedy re-pack of already-sized pieces (each <= maxSize except a
    * pathological single line, which line-splits). */
  private def packPieces(pieces: Seq[String], maxSize: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val chunk = new StringBuilder
    def flushChunk(): Unit =
      if (chunk.nonEmpty) { out += chunk.toString; chunk.clear() }
    pieces.foreach { p =>
      if (p.length > maxSize) { flushChunk(); out ++= splitContent(p, maxSize) }
      else {
        if (chunk.length + p.length > maxSize) flushChunk()
        chunk ++= p
      }
    }
    flushChunk()
    out.toSeq
  }

  /** Driver-side .gitignore pre-pass: returns predicate over relative
    * paths (true = keep). Supports the common subset: comment lines,
    * `dir/`, `*.ext`, bare names, leading-slash anchors. */
  def gitignorePredicate(root: Path): String => Boolean = {
    val gi = root.resolve(".gitignore")
    val patterns: Seq[String] =
      if (Files.exists(gi))
        Files.readAllLines(gi).asScala.toSeq
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      else Seq.empty
    val always = Seq(".git/") // standard filter
    val all = patterns ++ always
    (rel: String) => !all.exists { p0 =>
      val p = p0.stripPrefix("/")
      if (p.endsWith("/")) {
        val d = p.stripSuffix("/")
        rel == d || rel.startsWith(d + "/") || rel.contains("/" + d + "/")
      } else if (p.startsWith("*.")) {
        rel.endsWith(p.stripPrefix("*"))
      } else {
        rel == p || rel.endsWith("/" + p)
      }
    }
  }

  /** Reference-whitespace content projection (round 14, the last
    * chunk-content delta in SURVEY §8): the reference's chunks are
    * node-aligned BYTE RANGES (chunker.rs:89-116 via code-splitter —
    * each chunk spans from the first byte of its first AST node to the
    * last byte of its last node), so its chunk text never carries the
    * whitespace that falls BETWEEN chunks: no indentation or blank
    * lines before the first declaration, no trailing newline or blank
    * run after the last. This splitter's chunks are contiguous line
    * spans (byte-exact round-trip, the default everywhere); with
    * boundary parity certified (q201: every chunk starts at the line
    * of a declaration/comment/heading node and ends after its last
    * node's line), the node-aligned text of each chunk is exactly the
    * line-span text stripped of leading and trailing whitespace —
    * interior whitespace between merged siblings lies INSIDE the byte
    * range and is kept. A chunk that is all whitespace corresponds to
    * no node and is not emitted (indices renumber). q201's
    * ref_len/ref_md5 columns pin this projection per fixture chunk. */
  def refWhitespace(chunks: Seq[String]): Seq[String] =
    chunks.map(_.trim).filter(_.nonEmpty)

  /** The ONE "relative path + text → chunk rows" contract every
    * indexing path shares (base build; refresh-index and the
    * incremental stream through ChatPipeline.embedWave): extension
    * detect → supported filter → language detect → splitStructured, with the
    * intra-file chunk index preserved. `text` is by-name so callers
    * never decode bytes for unsupported extensions. Keeping this in one
    * place is what makes the byte-identical-across-paths guarantees
    * (RefreshHardeningSpec, the stream==batch specs) provable rather
    * than accidental — four drifting copies encoded it before.
    * `refContent` switches chunk text to the [[refWhitespace]]
    * node-aligned projection; boundaries are identical either way. */
  private[graft] def fileChunkRows(rel: String, text: => String,
                                   refContent: Boolean = false)
      : Seq[(String, Int, String, Option[String], Option[String])] = {
    val ext = rel.split('.').lastOption
      .filter(_ => rel.contains('.')).map(_.toLowerCase)
    ext match {
      case Some(e) if Language.supportedExtensions.contains(e) =>
        val lang = Language.detect(e)
        val raw = splitStructured(text, lang)
        val chunks = if (refContent) refWhitespace(raw) else raw
        chunks.zipWithIndex.map {
          case (c, i) => (rel, i, c, lang, Some(e))
        }
      case _ => Seq.empty
    }
  }

  /** S1+P1-P4: scan a directory into chunk rows. Uses Spark's binaryFile
    * source for the distributed read; the gitignore pre-pass and
    * extension filter prune before content ever moves. `refContent`
    * (round 15, VERDICT r14 item 5) selects the [[refWhitespace]]
    * node-aligned content projection for every chunk — boundaries
    * identical, text byte-identical to the reference's byte ranges. */
  def chunkRepo(spark: SparkSession, root: String,
                refContent: Boolean = false): Dataset[CodeChunk] = {
    import spark.implicits._
    val rootPath = Paths.get(root).toAbsolutePath
    val keep = gitignorePredicate(rootPath)
    val rootStr = rootPath.toString
    val ref = refContent
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootStr)
      .select(col("path"), col("content"))
    files.flatMap { row =>
      val uri = row.getString(0)
      val path = uri.stripPrefix("file:")
      val rel = path.stripPrefix(rootStr).stripPrefix("/")
      if (!keep(rel)) Seq.empty[CodeChunk]
      else fileChunkRows(rel,
          new String(row.getAs[Array[Byte]](1),
            java.nio.charset.StandardCharsets.UTF_8), refContent = ref)
        .map { case (r, _, c, lang, e) => CodeChunk(r, c, lang, e) }
    }
  }

  /** P5: observable per-language stats of a chunk set. */
  def chunkStats(chunks: DataFrame): DataFrame =
    chunks.groupBy(coalesce(col("language"), lit("unknown")).as("language"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("file_path")).as("n_files"))
      .orderBy("language")
}
