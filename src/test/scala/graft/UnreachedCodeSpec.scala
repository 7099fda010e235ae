package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ratchet against unreached code. Every member of src/main/scala
  * declared at top level or in the body of an object, class or trait
  * that is itself such a member (`def`, `val`, `var`, `object`, `class`,
  * `trait`) must be referenced by name somewhere in src/main/scala or
  * perfbench/src outside its own declarations. perfbench compiles
  * src/main unchanged, so its references count as roots; specs do not.
  *
  * The match is by name over comment-free source, so a name shared with
  * any other symbol counts as reached: the check finds a lower bound of
  * the dead code, never a false alarm from an unusual call shape. The
  * compiler's `-Wunused` covers private members; this covers public ones.
  */
class UnreachedCodeSpec extends AnyFunSuite {
  import UnreachedCodeSpec._

  /** Members kept although nothing in src/main or perfbench names them,
    * each with the reason it stays. */
  private val exempt: Map[String, String] = Map(
    "hitsFor" -> "RestFixture hook: reads the private per-page hit map for RestV2Spec",
    "pagesTouched" -> "RestFixture hook: reads the private per-page hit map for RestV2Spec",
    "resetHits" -> "RestFixture hook: clears the private per-page hit map for RestV2Spec",
    "stagedKeys" -> "RestFixture hook: reads the private staging map for RestWriteSpec",
    "stagedBatchSizes" -> "RestFixture hook: reads the private staging log for RestWriteSpec",
    "publishedCount" -> "RestFixture hook: reads the private published list for RestWriteSpec")

  test("every src/main member is referenced from src/main or perfbench") {
    val mainFiles = scalaFiles(Paths.get("src/main/scala"))
    val rootFiles = mainFiles ++ scalaFiles(Paths.get("perfbench/src"))
    val code = rootFiles.map(f => f -> stripComments(Files.readString(f))).toMap
    val decls = mainFiles.flatMap(f => members(f, code(f)))
    assert(decls.size > 500, s"only ${decls.size} members found: is the scan broken?")

    val uses = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for (src <- code.values; m <- Ident.findAllIn(src)) uses(m) += 1
    val declared = decls.groupBy(_.name).map { case (n, ds) => n -> ds.size }
    val stale = exempt.keySet.filterNot(declared.contains)
    assert(stale.isEmpty, s"exemptions for members that no longer exist: $stale")
    val mainObjects = decls.filter(_.name == "main").flatMap(_.owner).toSet
    val unreached = decls.filter { d =>
      !d.isOverride && !Set("apply", "unapply", "main")(d.name) &&
        !(d.kind == "object" && mainObjects(d.name)) &&
        !exempt.contains(d.name) && uses(d.name) <= declared(d.name)
    }
    if (unreached.nonEmpty)
      fail("members nothing in src/main or perfbench references:\n" +
        unreached.mkString("\n"))
  }
}

object UnreachedCodeSpec {

  final case class Decl(file: Path, line: Int, kind: String, name: String,
                        owner: Option[String], isOverride: Boolean) {
    override def toString = s"$file:$line $kind $name"
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  private val DeclRe = ("(?m)^[ \\t]*((?:(?:private|protected)(?:\\[\\w+\\])?\\s+" +
    "|final\\s+|override\\s+|implicit\\s+|lazy\\s+|case\\s+|sealed\\s+" +
    "|abstract\\s+|@\\w+(?:\\([^)]*\\))?\\s+)*)" +
    "(def|val|var|object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)").r

  private def scalaFiles(dir: Path): Seq[Path] = {
    require(Files.isDirectory(dir), s"$dir is not a directory")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sorted
    finally s.close()
  }

  /** `src` with every comment replaced by spaces (newlines kept, so
    * offsets and line numbers still match); string and character
    * literals stay as written. */
  private def stripComments(src: String): String = blank(src, strings = false)

  /** `src` with comments AND the contents of string and character
    * literals blanked: only code structure (braces, parens) is left. */
  private def structure(src: String): String = blank(src, strings = true)

  private def blank(src: String, strings: Boolean): String = {
    val out = new StringBuilder(src.length)
    def spaces(from: Int, to: Int): Unit =
      (from until to).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    def literal(from: Int, to: Int): Unit =
      if (strings) spaces(from, to) else out ++= src.substring(from, to)
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = { val e = src.indexOf('\n', i); if (e < 0) n else e }
        spaces(i, j); i = j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        spaces(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) n else e + 3
        while (j < n && src(j) == '"') j += 1
        literal(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        literal(i, j); i = j
      } else if (src.startsWith("'\\", i)) {
        // an escaped char literal: one escaped char, or 'u' + 4 hex digits
        val j = math.min(n, i + (if (src.startsWith("u", i + 2)) 8 else 4))
        literal(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        literal(i, i + 3); i += 3
      } else {
        out += src(i); i += 1
      }
    }
    out.result()
  }

  /** The members of one file: declarations whose enclosing braces are
    * all template (object/class/trait) bodies. */
  private def members(file: Path, code: String): Seq[Decl] = {
    val st = structure(code)
    // per offset: the enclosing '{', the paren depth and the line
    val parent = new Array[Int](st.length)
    val parens = new Array[Int](st.length)
    val line = new Array[Int](st.length)
    var stack = List(-1)
    var p = 0
    var l = 1
    for (k <- st.indices) {
      parent(k) = stack.head
      parens(k) = p
      line(k) = l
      st(k) match {
        case '{' => stack = k :: stack
        case '}' => stack = stack.tail
        case '(' | '[' => p += 1
        case ')' | ']' => p -= 1
        case '\n' => l += 1
        case _ =>
      }
    }
    require(stack == List(-1) && p == 0, s"$file: unbalanced braces or parens")

    // a parameter list's `val`s sit inside parens; members never do
    val found = DeclRe.findAllMatchIn(st).filter(m => parens(m.start(2)) == 0)
      .toVector
    val bodies = scala.collection.mutable.Map[Int, String]() // '{' -> owner
    def memberOwner(k: Int): Option[Option[String]] = {
      var b = parent(k)
      var ok = true
      while (ok && b >= 0) { ok = bodies.contains(b); b = parent(b) }
      if (!ok) None else Some(Option(parent(k)).filter(_ >= 0).map(bodies))
    }
    found.zipWithIndex.flatMap { case (m, idx) =>
      val at = m.start(2)
      memberOwner(at).map { owner =>
        val kind = m.group(2)
        val name = m.group(3)
        if (kind == "object" || kind == "class" || kind == "trait") {
          // the body is the first '{' at the declaration's paren depth,
          // unless the next declaration or the owner's '}' comes first
          val limit = found.lift(idx + 1).map(_.start).getOrElse(st.length)
          val open = (m.end until limit).find(k =>
            (st(k) == '{' || st(k) == '}') && parens(k) == 0)
          open.filter(st(_) == '{').foreach(bodies(_) = name)
        }
        Decl(file, line(at), kind, name, owner,
          m.group(1).contains("override"))
      }
    }
  }
}
