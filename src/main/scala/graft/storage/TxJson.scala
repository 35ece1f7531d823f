package graft.storage

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, SerializableString}
import com.fasterxml.jackson.core.io.CharacterEscapes
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import TxLog.{ColMap, DvEntry, EqDelEntry, Manifest}
import TxStats.{ColStat, FileStats}

/** The Jackson codec of the two JSON documents the storage plane
  * writes: txlog manifests ([[TxLog.Manifest]]) and SQL view documents
  * ([[GraftViews.Stored]]).
  *
  * Writing is byte-stable: keys go out in a fixed order with `": "` and
  * `", "` spacing, optional keys are omitted rather than null, and
  * control characters keep the escapes they have always had — so a
  * value always renders to the same bytes as every earlier release
  * (the `txlog-golden` test documents pin them).
  *
  * Reading is strict: the text must be exactly one JSON object (a torn
  * file or trailing junk fails), keys may not repeat, and every required
  * key must be present with its JSON type. Key order and the choice of
  * JSON escape are free. */
private[storage] object TxJson {

  private val factory =
    new JsonFactoryBuilder().disable(JsonWriteFeature.WRITE_HEX_UPPER_CASE).build()

  private val mapper = new ObjectMapper(factory)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(DeserializationFeature.FAIL_ON_READING_DUP_TREE_KEY)

  private object Spacing extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  }

  /** `"`, `\` and the control characters in `short` get their
    * two-character escapes; every other control character is written
    * `\u00xx`. */
  private final class Escapes(short: String) extends CharacterEscapes {
    private val codes = CharacterEscapes.standardAsciiEscapesForJSON()
    (0 until 32).filterNot(c => short.contains(c.toChar))
      .foreach(codes(_) = CharacterEscapes.ESCAPE_STANDARD)
    override def getEscapeCodesForAscii: Array[Int] = codes
    override def getEscapeSequence(ch: Int): SerializableString = null
  }
  private val manifestEscapes = new Escapes("\n")
  private val viewEscapes = new Escapes("\n\r\t")

  private def write(esc: CharacterEscapes)(body: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter
    val g = factory.createGenerator(out)
    g.setPrettyPrinter(Spacing)
    g.setCharacterEscapes(esc)
    g.writeStartObject()
    body(g)
    g.writeEndObject()
    g.close()
    out.toString
  }

  private def strings(g: JsonGenerator, k: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(k)
    xs.foreach(x => g.writeString(x))
    g.writeEndArray()
  }

  private def objects[T](g: JsonGenerator, k: String, xs: Seq[T])(fields: T => Unit): Unit = {
    g.writeArrayFieldStart(k)
    xs.foreach { x => g.writeStartObject(); fields(x); g.writeEndObject() }
    g.writeEndArray()
  }

  /** `[{a: x, b: y}, ...]` for string pairs (x, y). */
  private def pairs(g: JsonGenerator, k: String, xs: Seq[(String, String)],
                    a: String, b: String): Unit =
    objects(g, k, xs) { case (x, y) => g.writeStringField(a, x); g.writeStringField(b, y) }

  /** One JSON object under decode; `at` names it in error messages (by
    * name: the label is only built for an error). */
  private final class Obj(n: JsonNode, at: => String) {
    require(n.isObject, s"$at must be an object, got ${n.getNodeType}")
    private def get(k: String): JsonNode = {
      val v = n.get(k)
      require(v != null, s"$at: missing key '$k'")
      v
    }
    private def as[T](v: JsonNode, where: => String, what: String, ok: Boolean)(value: => T): T = {
      require(ok, s"$where must be $what, got ${v.getNodeType}")
      value
    }
    private def text(v: JsonNode, where: => String): String =
      as(v, where, "a string", v.isTextual)(v.textValue)
    private def integer(v: JsonNode, where: => String): Long =
      as(v, where, "an integer", v.isIntegralNumber && v.canConvertToLong)(v.longValue)
    private def items(k: String): Seq[(JsonNode, Int)] = {
      val v = get(k)
      as(v, s"$at.$k", "an array", v.isArray)(v.elements.asScala.zipWithIndex.toSeq)
    }
    def str(k: String): String = text(get(k), s"$at.$k")
    def long(k: String): Long = integer(get(k), s"$at.$k")
    def bool(k: String): Boolean = {
      val v = get(k)
      as(v, s"$at.$k", "a boolean", v.isBoolean)(v.booleanValue)
    }
    def strs(k: String): Seq[String] = items(k).map { case (v, i) => text(v, s"$at.$k[$i]") }
    def longs(k: String): Seq[Long] = items(k).map { case (v, i) => integer(v, s"$at.$k[$i]") }
    def objs(k: String): Seq[Obj] = items(k).map { case (v, i) => new Obj(v, s"$at.$k[$i]") }
    def obj(k: String): Obj = new Obj(get(k), s"$at.$k")
    def pairs(k: String, a: String, b: String): Seq[(String, String)] =
      objs(k).map(e => (e.str(a), e.str(b)))
    /** A `{"k": "v", ...}` object of strings, in key order. */
    def fields(k: String): Seq[(String, String)] = {
      val o = obj(k)
      get(k).fieldNames.asScala.toSeq.map(f => f -> o.str(f))
    }
    def opt[T](k: String)(f: String => T): Option[T] = if (n.has(k)) Some(f(k)) else None
    def seq[T](k: String)(f: String => Seq[T]): Seq[T] = opt(k)(f).getOrElse(Seq.empty)
  }

  private def root(s: String, what: String): Obj = new Obj(mapper.readTree(s), what)

  // ---- manifests

  def encodeManifest(m: Manifest): String = write(manifestEscapes) { g =>
    g.writeNumberField("version", m.version)
    g.writeBooleanField("checkpoint", m.checkpoint)
    g.writeStringField("writer_id", m.writerId)
    g.writeNumberField("batch_id", m.batchId)
    if (m.ts >= 0L) g.writeNumberField("ts", m.ts)
    strings(g, "files", m.files)
    if (m.removes.nonEmpty) strings(g, "removes", m.removes)
    if (m.dvs.nonEmpty) objects(g, "dvs", m.dvs) { d =>
      g.writeStringField("f", d.f)
      g.writeStringField("p", d.p)
      g.writeNumberField("n", d.n)
    }
    if (m.eqdels.nonEmpty) objects(g, "eqdels", m.eqdels) { e =>
      g.writeStringField("p", e.p)
      strings(g, "cols", e.cols)
      g.writeNumberField("n", e.n)
    }
    if (m.eqdrops.nonEmpty) strings(g, "eqdrops", m.eqdrops)
    m.branch.foreach(g.writeStringField("branch", _))
    if (m.adopts.nonEmpty) {
      g.writeArrayFieldStart("adopts")
      m.adopts.foreach(v => g.writeNumber(v))
      g.writeEndArray()
    }
    if (m.nextRid >= 0L) g.writeNumberField("nrid", m.nextRid)
    m.schema.foreach(g.writeStringField("schema", _))
    if (m.pcols.nonEmpty) strings(g, "pcols", m.pcols)
    if (m.changes.nonEmpty) strings(g, "changes", m.changes)
    // props and cmap are presence-aware: an explicitly EMPTY record
    // (`"props": []` after removing the last key, an overwrite's reset
    // mapping) differs from the omitted key of a manifest that records
    // nothing — newest-wins would otherwise resurrect the older record
    m.props.foreach(pairs(g, "props", _, "k", "v"))
    m.cmap.foreach { cm =>
      g.writeObjectFieldStart("cmap")
      pairs(g, "m", cm.map, "l", "p")
      strings(g, "r", cm.retired)
      g.writeEndObject()
    }
    if (m.tokens.nonEmpty) objects(g, "tokens", m.tokens) { case (w, b) =>
      g.writeStringField("w", w)
      g.writeNumberField("b", b)
    }
    if (m.stats.nonEmpty) objects(g, "stats", m.stats) { st =>
      g.writeStringField("f", st.file)
      g.writeNumberField("rows", st.rows)
      if (st.bytes > 0L) g.writeNumberField("bytes", st.bytes)
      if (st.firstRowId >= 0L) g.writeNumberField("rid", st.firstRowId)
      if (st.parts.nonEmpty) pairs(g, "pv", st.parts, "c", "v")
      objects(g, "cols", st.cols) { c =>
        g.writeStringField("c", c.col)
        g.writeStringField("t", c.tag)
        g.writeStringField("h", if (c.has) "1" else "0")
        g.writeStringField("min", c.min)
        g.writeStringField("max", c.max)
        g.writeNumberField("n", c.nulls)
        if (c.kmv.nonEmpty) g.writeStringField("kmv", c.kmv.mkString(","))
        if (c.exact) g.writeStringField("x", "1")
      }
    }
  }

  def decodeManifest(s: String): Manifest = {
    val o = root(s, "manifest")
    Manifest(
      version = o.long("version"),
      files = o.strs("files"),
      writerId = o.str("writer_id"),
      batchId = o.long("batch_id"),
      checkpoint = o.bool("checkpoint"),
      stats = o.seq("stats")(o.objs).map(fileStats),
      removes = o.seq("removes")(o.strs),
      schema = o.opt("schema")(o.str),
      tokens = o.seq("tokens")(o.objs).map(e => (e.str("w"), e.long("b"))),
      pcols = o.seq("pcols")(o.strs),
      changes = o.seq("changes")(o.strs),
      props = o.opt("props")(o.pairs(_, "k", "v")),
      ts = o.opt("ts")(o.long).getOrElse(-1L),
      dvs = o.seq("dvs")(o.objs).map(e => DvEntry(e.str("f"), e.str("p"), e.long("n"))),
      cmap = o.opt("cmap")(o.obj).map(c => ColMap(c.pairs("m", "l", "p"), c.strs("r"))),
      eqdels = o.seq("eqdels")(o.objs).map(e =>
        EqDelEntry(e.str("p"), e.strs("cols"), e.long("n"))),
      eqdrops = o.seq("eqdrops")(o.strs),
      branch = o.opt("branch")(o.str),
      adopts = o.seq("adopts")(o.longs),
      nextRid = o.opt("nrid")(o.long).getOrElse(-1L))
  }

  private def fileStats(e: Obj): FileStats =
    FileStats(e.str("f"), e.long("rows"),
      e.objs("cols").map(c => ColStat(c.str("c"), c.str("t"), c.str("h") == "1",
        c.str("min"), c.str("max"), c.long("n"),
        kmv = c.opt("kmv")(c.str).toSeq
          .flatMap(_.split(',').filter(_.nonEmpty).map(_.toLong)),
        exact = c.opt("x")(c.str).contains("1"))),
      bytes = e.opt("bytes")(e.long).getOrElse(0L),
      parts = e.seq("pv")(e.pairs(_, "c", "v")),
      firstRowId = e.opt("rid")(e.long).getOrElse(-1L))

  // ---- view documents

  def encodeView(v: GraftViews.Stored): String = write(viewEscapes) { g =>
    g.writeStringField("sql", v.sql)
    g.writeStringField("cat", v.currentCatalog)
    strings(g, "ns", v.currentNamespace)
    g.writeStringField("schema", v.schemaDdl)
    strings(g, "qcols", v.queryColumnNames)
    strings(g, "aliases", v.columnAliases)
    strings(g, "comments", v.columnComments)
    g.writeObjectFieldStart("props")
    v.properties.toSeq.sorted.foreach { case (k, x) => g.writeStringField(k, x) }
    g.writeEndObject()
  }

  def decodeView(s: String): GraftViews.Stored = {
    val o = root(s, "view")
    GraftViews.Stored(o.str("sql"), o.str("cat"), o.strs("ns"), o.str("schema"),
      o.strs("qcols"), o.strs("aliases"), o.strs("comments"), o.fields("props").toMap)
  }
}
