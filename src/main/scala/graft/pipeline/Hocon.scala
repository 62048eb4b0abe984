package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.jdk.CollectionConverters._

/** Minimal HOCON reader covering the morphline config subset: objects with
  * unquoted keys (separated by `:`/`=` or a directly-following `{` block),
  * single- and triple-quoted strings, lists, `#` and `//` comments, optional
  * comma/newline separators, and whole-value `${path}` / `${?path}`
  * substitutions (config/cloudsolr.conf:3-6, TESTR/producer.conf:41-44).
  * Includes and value concatenation are out of scope — the reference's own
  * include path is marked broken (MorphlineTransform.java:171 "TODO: broken
  * for now need tests"). typesafe-config is not on Spark 4.1's classpath and
  * this build adds no dependencies, hence a reader instead of a library.
  *
  * Output is a Jackson tree, which [[PipelineSpec]] compiles and each
  * command's builder reads as its [[Conf]]. Substitutions parse to marker
  * objects (`{"%subst": path, "%optional": bool}`) and stay unresolved until
  * [[resolve]], mirroring typesafe-config's parse-then-resolve split
  * (`override.withFallback(file)` then `ConfigFactory.load`,
  * MorphlineTransform.java:187-191).
  */
object Hocon {

  private val F = JsonNodeFactory.instance
  private val SubstKey = "%subst"
  private val OptKey = "%optional"

  def parse(text: String): JsonNode = new Reader(text).root()

  /** Typesafe-config resolution semantics over a parsed tree:
    *
    *  1. `overrides` (flattened dotted keys, the connector's `morphlines.*`
    *     channel already prefix-stripped; MorphlineSinkTask.java:108,119-127)
    *     deep-merge OVER the file tree — `override.withFallback(fileConfig)`.
    *  2. Every `${path}` resolves against the merged root, falling back to
    *     `env` (typesafe's `useSystemEnvironment`). A missing required path
    *     throws; a missing `${?path}` drops the enclosing field (or list
    *     element), exactly like typesafe omits optional-substitution keys.
    */
  def resolve(root: JsonNode, overrides: Map[String, String] = Map.empty,
              env: String => Option[String] = sys.env.get): JsonNode = {
    val merged = overrides.foldLeft(root) { case (acc, (path, value)) =>
      setPath(acc, path.split('.').toList, F.textNode(value))
    }

    def isSubst(n: JsonNode): Boolean = n.isObject && n.has(SubstKey)

    // dotted-path lookup against the merged root; intermediate substitution
    // markers resolve first so `${a.b}` works when `a` is itself `${x}`
    def lookup(path: List[String], node: JsonNode,
               visiting: Set[String]): Option[JsonNode] = path match {
      case Nil => Some(node)
      case seg :: rest =>
        val base = if (isSubst(node)) resolveNode(node, visiting).getOrElse(return None)
                   else node
        Option(base.get(seg)).flatMap(lookup(rest, _, visiting))
    }

    def resolveNode(n: JsonNode, visiting: Set[String]): Option[JsonNode] =
      if (isSubst(n)) {
        val path = n.get(SubstKey).asText
        val optional = n.get(OptKey).asBoolean
        require(!visiting(path), s"substitution cycle through '$${$path}'")
        // A self-reference (`HOME = ${?HOME}` — the config key IS the
        // substitution target) is typesafe-config's env-inheritance idiom,
        // not a cycle: skip the config lookup and go straight to the env;
        // the cycle error is reserved for genuine multi-key cycles.
        lookup(path.split('.').toList, merged, visiting + path)
          .filter(_ != n)
          .flatMap(resolveNode(_, visiting + path))
          .orElse(env(path).map(F.textNode))
          .orElse(if (optional) None
                  else throw new IllegalArgumentException(
                    s"unresolved required substitution '$${$path}'"))
      } else if (n.isObject) {
        val out = F.objectNode()
        n.properties.asScala.foreach { e =>
          resolveNode(e.getValue, visiting).foreach(out.set[JsonNode](e.getKey, _))
        }
        Some(out)
      } else if (n.isArray) {
        val out = F.arrayNode()
        n.elements.asScala.foreach(resolveNode(_, visiting).foreach(out.add))
        Some(out)
      } else Some(n)

    resolveNode(merged, Set.empty).getOrElse(F.objectNode())
  }

  /** Deep-set a dotted path, merging into existing objects (immutable).
    * Descending into a substitution *marker* (override
    * `solrLocator.collection` over `solrLocator : ${SOLR_LOCATOR}`) replaces
    * the marker with an object holding only the override key — merging INTO
    * the marker would make resolve() discard the override silently.
    */
  private def setPath(node: JsonNode, path: List[String],
                      value: JsonNode): JsonNode = path match {
    case Nil => value
    case seg :: rest =>
      val obj = if (node != null && node.isObject && !node.has(SubstKey))
        node.asInstanceOf[ObjectNode].deepCopy() else F.objectNode()
      obj.set[JsonNode](seg, setPath(obj.get(seg), rest, value))
      obj
  }

  private final class Reader(s: String) {
    private var i = 0

    def root(): JsonNode = {
      ws()
      val v =
        if (peek == '[') list()
        else if (peek == '{') obj(braced = true)
        else obj(braced = false) // HOCON allows a brace-less root object
      ws()
      require(i >= s.length, s"trailing content at offset $i")
      v
    }

    private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'

    private def ws(): Unit = {
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '#' || (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '/'))
          while (i < s.length && s.charAt(i) != '\n') i += 1
        else if (c.isWhitespace || c == ',') i += 1
        else return
      }
    }

    private def obj(braced: Boolean): ObjectNode = {
      val node = F.objectNode()
      if (braced) i += 1
      ws()
      while (i < s.length && peek != '}') {
        val key = keyToken()
        ws()
        val value: JsonNode =
          if (peek == ':' || peek == '=') { i += 1; ws(); valueToken() }
          else if (peek == '{') obj(braced = true)
          else throw new IllegalArgumentException(
            s"expected ':', '=' or '{' after key '$key' at offset $i")
        node.set[JsonNode](key, value)
        ws()
      }
      if (braced) {
        require(peek == '}', "unterminated object")
        i += 1
      }
      node
    }

    private def list(): JsonNode = {
      val node = F.arrayNode()
      i += 1 // '['
      ws()
      while (i < s.length && peek != ']') {
        // progress check: an unquoted scalar stops WITHOUT consuming at
        // '}' (it's a terminator), so `[}` would otherwise loop forever
        // appending empty text nodes — found by HoconFuzzSpec
        val before = i
        node.add(valueToken())
        require(i > before, s"unexpected '${peek}' in list at offset $i")
        ws()
      }
      require(peek == ']', "unterminated list")
      i += 1
      node
    }

    private def keyToken(): String =
      if (peek == '"') quoted()
      else {
        val start = i
        while (i < s.length && !":={}".contains(s.charAt(i)) &&
          !s.charAt(i).isWhitespace) i += 1
        require(i > start, s"empty key at offset $i")
        s.substring(start, i)
      }

    private def valueToken(): JsonNode = peek match {
      case '{' => obj(braced = true)
      case '[' => list()
      case '"' if s.startsWith("\"\"\"", i) => F.textNode(tripleQuoted())
      case '"' => F.textNode(quoted())
      case '$' if s.startsWith("${", i) => substitution()
      case _ =>
        // unquoted scalar: runs to a separator/terminator/comment
        val start = i
        while (i < s.length && !",]}\n#".contains(s.charAt(i))) i += 1
        val raw = s.substring(start, i).trim
        // value concatenation (`abc${x}`) is out of scope (scaladoc above):
        // fail loudly instead of silently yielding the literal "abc${x}"
        require(!raw.contains("${"),
          s"unsupported value concatenation with substitution: '$raw'")
        raw match {
          case "true" => F.booleanNode(true)
          case "false" => F.booleanNode(false)
          case "null" => F.nullNode()
          case n if n.nonEmpty && n.matches("-?\\d+") =>
            // >19-digit literals overflow toLong with an unclean
            // NumberFormatException (fuzz finding) — widen, don't die
            try F.numberNode(n.toLong)
            catch { case _: NumberFormatException =>
              F.numberNode(new java.math.BigDecimal(n)) }
          case n if n.nonEmpty && n.matches("-?\\d*\\.\\d+([eE][+-]?\\d+)?") =>
            F.numberNode(n.toDouble)
          case other => F.textNode(other)
        }
    }

    /** `${path}` / `${?path}` → unresolved marker node (see [[resolve]]).
      * Whole-value only: `"prefix"${x}` concatenation is unsupported (the
      * reference's configs never use it) and fails the trailing-content or
      * separator checks rather than mis-parsing.
      */
    private def substitution(): JsonNode = {
      i += 2 // "${"
      val optional = peek == '?'
      if (optional) i += 1
      val end = s.indexOf('}', i)
      require(end >= 0, "unterminated ${...} substitution")
      val path = s.substring(i, end).trim
      require(path.nonEmpty, "empty substitution path")
      i = end + 1
      val node = F.objectNode()
      node.set[JsonNode]("%subst", F.textNode(path))
      node.set[JsonNode]("%optional", F.booleanNode(optional))
      node
    }

    private def quoted(): String = {
      i += 1 // opening quote
      val sb = new java.lang.StringBuilder()
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          i += 1
          sb.append(s.charAt(i) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'; case 'f' => '\f'
            case 'u' =>
              // clean errors, not StringIndexOutOfBounds/NumberFormat
              // from a truncated or non-hex escape (fuzz finding)
              require(i + 5 <= s.length,
                s"truncated \\u escape at offset $i")
              val hex = s.substring(i + 1, i + 5)
              require(hex.matches("[0-9a-fA-F]{4}"),
                s"invalid \\u escape '\\u$hex' at offset $i")
              i += 4
              Integer.parseInt(hex, 16).toChar
            case lit => lit
          })
        } else sb.append(c)
        i += 1
      }
      require(peek == '"', "unterminated string")
      i += 1
      sb.toString
    }

    private def tripleQuoted(): String = {
      i += 3 // opening """
      val end = s.indexOf("\"\"\"", i)
      require(end >= 0, "unterminated triple-quoted string")
      val v = s.substring(i, end)
      i = end + 3
      v
    }
  }
}
