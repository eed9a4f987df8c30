package graft.sinks

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}

import graft.sinks.TableLog.{AddFile, Commit, NumStat, Stat, StrStat}

/** The `_log/` manifest format: one writer and one reader per manifest
  * type — [[Stat]], [[AddFile]], [[Commit]] and [[Checkpoint]] —
  * streamed through the jackson-core shipped inside Spark (no data
  * binding, no dependency beyond the Spark jars).
  *
  * A manifest is one flat JSON object on one line. Maps render
  * key-sorted and empty optional fields are left out, so a commit's
  * bytes are a function of its value ([[TableLog.classifyFailedRename]]
  * compares bodies). Doubles render as `Double.toString`; a non-finite
  * numeric stat is dropped on write, since NaN/±Infinity are not JSON.
  * Readers skip fields they do not know, fail loudly on a missing
  * required one, and refuse a manifest that declares a reader feature
  * this library does not implement ([[TableLog.SupportedReaderFeatures]]).
  */
private[graft] object TableLogCodec {

  /** A checkpoint manifest parsed once. `live` is the inlined entry
    * list of the legacy single-JSON form; the multi-part header carries
    * `parts`/`entries`/`partDir` instead. `txns` and `copyFiles` are
    * None for a legacy checkpoint written before those fields existed;
    * `entries` is -1 when the header does not record the count, and
    * `partDir` None for a header older than attempt-unique part dirs.
    */
  final case class Checkpoint(version: Long, schemaJson: String,
                              features: Seq[String],
                              txns: Option[Map[String, Long]],
                              copyFiles: Option[Set[String]],
                              live: Option[Seq[AddFile]],
                              parts: Int = 0, entries: Long = -1L,
                              partDir: Option[String] = None)

  private val json = new JsonFactory()

  // ------------------------------------------------------------ writers

  private def render(f: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter(256)
    val g = json.createGenerator(out)
    try f(g) finally g.close()
    out.toString
  }

  /** One JSON value: maps as key-sorted objects, other collections as
    * arrays, stats and file entries through their writers.
    */
  private def write(g: JsonGenerator, v: Any): Unit = v match {
    case s: String => g.writeString(s)
    case n: Long => g.writeNumber(n)
    case n: Int => g.writeNumber(n)
    case d: Double => g.writeNumber(d)
    case s: Stat => writeStat(g, s)
    case a: AddFile => writeAdd(g, a)
    case m: Map[_, _] =>
      writeObject(g, m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] =>
      g.writeStartArray()
      xs.foreach(write(g, _))
      g.writeEndArray()
  }

  private def writeObject(g: JsonGenerator, fields: Seq[(String, Any)]): Unit = {
    g.writeStartObject()
    fields.foreach { case (k, v) => g.writeFieldName(k); write(g, v) }
    g.writeEndObject()
  }

  /** The optional fields worth writing: an empty one is left out. */
  private def nonEmpty(fields: (String, Iterable[_])*): Seq[(String, Any)] =
    fields.filter(_._2.nonEmpty)

  private def writeStat(g: JsonGenerator, s: Stat): Unit = s match {
    case NumStat(mn, mx) => writeObject(g, Seq("t" -> "n", "min" -> mn, "max" -> mx))
    case StrStat(mn, mx) => writeObject(g, Seq("t" -> "s", "min" -> mn, "max" -> mx))
  }

  private def writeAdd(g: JsonGenerator, a: AddFile): Unit = {
    // footerStats already drops non-finite stats; this covers any other
    // producer of an AddFile
    val stats = a.stats.filter {
      case (_, NumStat(mn, mx)) =>
        java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx)
      case _ => true
    }
    writeObject(g, Seq("path" -> a.path, "rows" -> a.rows, "stats" -> stats) ++
      nonEmpty("dv" -> a.dv) ++
      (if (a.bytes > 0L) Seq("bytes" -> a.bytes) else Nil) ++
      nonEmpty("nulls" -> a.nullCounts, "pcols" -> a.pcols))
  }

  /** A commit manifest. Reader and writer features derive from the
    * commit's content here, at render time; declared writer features
    * (a newer writer's, carried through a rebase) are kept beside them.
    */
  def renderCommit(c: Commit): String = render(writeObject(_,
    Seq("version" -> c.version, "parent" -> c.parent, "op" -> c.op,
      "ts" -> c.ts, "schema" -> c.schemaJson, "add" -> c.add, "remove" -> c.remove) ++
      c.txn.map { case (app, batch) => "txn" -> Map("app" -> app, "batch" -> batch) } ++
      nonEmpty("removedv" -> c.removeDv, "constraints" -> c.constraints,
        "copyfiles" -> c.copyFiles, "properties" -> c.properties,
        "colmap" -> c.colmap, "dropcols" -> c.droppedCols,
        "features" -> TableLog.readerFeaturesOf(c),
        "wfeatures" -> (TableLog.writerFeaturesOf(c) ++ c.writerFeatures).distinct)))

  /** A checkpoint manifest: the legacy single JSON when `live` is set,
    * else the multi-part header. Both share the header fields.
    */
  def renderCheckpoint(c: Checkpoint): String = render(writeObject(_,
    Seq("version" -> c.version, "schema" -> c.schemaJson) ++
      nonEmpty("features" -> c.features) ++
      c.txns.map("txns" -> _) ++
      c.copyFiles.map(cf => "copyfiles" -> cf.toSeq.sorted) ++
      (c.live match {
        case Some(live) => Seq("live" -> live)
        case None => Seq("parts" -> c.parts, "entries" -> c.entries) ++
          c.partDir.map("partdir" -> _)
      })))

  /** A string map as a key-sorted JSON object (DESCRIBE DETAIL's
    * constraint and property columns).
    */
  def renderStringMap(m: Map[String, String]): String = render(write(_, m))

  // ------------------------------------------------------------ readers

  private def parse[A](txt: String)(f: JsonParser => A): A = {
    val p = json.createParser(txt)
    try { p.nextToken(); f(p) } finally p.close()
  }

  private def expect(p: JsonParser, t: JsonToken): Unit =
    if (p.currentToken != t)
      throw new IllegalArgumentException(s"TableLog: malformed manifest — " +
        s"expected $t, found ${p.currentToken} at ${p.currentLocation}")

  /** Reads the object at `p`: `f` consumes each field it knows (the
    * parser on the field's value), the others are skipped, and a missing
    * `required` field fails loudly.
    */
  private def fields(p: JsonParser, required: String*)(f: PartialFunction[String, Unit]): Unit = {
    expect(p, JsonToken.START_OBJECT)
    var seen = 0
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName()
      p.nextToken()
      val i = required.indexOf(name)
      if (i >= 0) seen |= 1 << i
      f.applyOrElse(name, (_: String) => p.skipChildren())
    }
    required.indices.find(i => (seen & (1 << i)) == 0).foreach { i =>
      throw new IllegalArgumentException(s"TableLog: malformed manifest — " +
        s"no '${required(i)}' field in the object ending at ${p.currentLocation}")
    }
  }

  private def elems[A](p: JsonParser)(f: => A): Seq[A] = {
    expect(p, JsonToken.START_ARRAY)
    val b = Vector.newBuilder[A]
    while (p.nextToken() != JsonToken.END_ARRAY) b += f
    b.result()
  }

  private def entries[A](p: JsonParser)(f: => A): Map[String, A] = {
    val b = Map.newBuilder[String, A]
    fields(p) { case k => b += k -> f }
    b.result()
  }

  private def strings(p: JsonParser): Seq[String] = elems(p)(p.getText)

  private def readStat(p: JsonParser): Stat = {
    var t, mn, mx: String = null
    fields(p, "t", "min", "max") {
      case "t" => t = p.getText
      case "min" => mn = p.getText
      case "max" => mx = p.getText
    }
    if (t == "n") NumStat(mn.toDouble, mx.toDouble) else StrStat(mn, mx)
  }

  private def readAdd(p: JsonParser): AddFile = {
    var a = AddFile("", 0L, Map.empty)
    fields(p, "path", "rows") {
      case "path" => a = a.copy(path = p.getText)
      case "rows" => a = a.copy(rows = p.getValueAsLong)
      case "stats" => a = a.copy(stats = entries(p)(readStat(p)))
      case "dv" => a = a.copy(dv = elems(p)(p.getValueAsLong))
      case "bytes" => a = a.copy(bytes = p.getValueAsLong)
      case "nulls" => a = a.copy(nullCounts = entries(p)(p.getValueAsLong))
      case "pcols" => a = a.copy(pcols = strings(p))
    }
    a
  }

  def parseCommit(txt: String): Commit = parse(txt) { p =>
    var c = Commit(-1L, -1L, "", "", Nil, Nil)
    fields(p, "version", "parent", "op", "schema", "add", "remove") {
      case "version" => c = c.copy(version = p.getValueAsLong)
      case "parent" => c = c.copy(parent = p.getValueAsLong)
      case "op" => c = c.copy(op = p.getText)
      case "ts" => c = c.copy(ts = p.getValueAsLong)
      case "schema" => c = c.copy(schemaJson = p.getText)
      case "add" => c = c.copy(add = elems(p)(readAdd(p)))
      case "remove" => c = c.copy(remove = strings(p))
      case "txn" =>
        var txn = ("", 0L)
        fields(p, "app", "batch") {
          case "app" => txn = txn.copy(_1 = p.getText)
          case "batch" => txn = txn.copy(_2 = p.getValueAsLong)
        }
        c = c.copy(txn = Some(txn))
      case "removedv" => c = c.copy(removeDv = entries(p)(elems(p)(p.getValueAsLong)))
      case "constraints" => c = c.copy(constraints = entries(p)(p.getText))
      case "copyfiles" => c = c.copy(copyFiles = strings(p))
      case "properties" => c = c.copy(properties = entries(p)(p.getText))
      case "colmap" => c = c.copy(colmap = entries(p)(p.getText))
      case "dropcols" => c = c.copy(droppedCols = strings(p))
      case "features" =>
        TableLog.requireSupportedFeatures(strings(p), s"commit ${c.version}")
      // writer features parse OPEN: unknown entries refuse WRITES (the
      // publishCommit guard), never reads — the asymmetry is the point
      case "wfeatures" => c = c.copy(writerFeatures = strings(p))
    }
    c
  }

  /** The version of a commit manifest, None for a checkpoint manifest or
    * unparseable text — the filter a streaming consumer of the raw
    * `_log/` file feed needs, since the `*.json` glob also matches
    * `*.checkpoint.json`.
    */
  def parseVersionIfCommit(txt: String): Option[Long] =
    try parse(txt) { p =>
      var version = 0L
      fields(p, "version", "op") { case "version" => version = p.getValueAsLong }
      Some(version)
    } catch { case _: Exception => None }

  def parseCheckpoint(txt: String): Checkpoint = parse(txt) { p =>
    var c = Checkpoint(-1L, "", Nil, None, None, None)
    fields(p, "version", "schema") {
      case "version" => c = c.copy(version = p.getValueAsLong)
      case "schema" => c = c.copy(schemaJson = p.getText)
      case "features" =>
        val fs = strings(p)
        TableLog.requireSupportedFeatures(fs, s"checkpoint ${c.version}")
        c = c.copy(features = fs)
      case "txns" => c = c.copy(txns = Some(entries(p)(p.getValueAsLong)))
      case "copyfiles" => c = c.copy(copyFiles = Some(strings(p).toSet))
      case "live" => c = c.copy(live = Some(elems(p)(readAdd(p))))
      case "parts" => c = c.copy(parts = p.getValueAsInt)
      case "entries" => c = c.copy(entries = p.getValueAsLong)
      case "partdir" => c = c.copy(partDir = Some(p.getText))
    }
    c
  }
}
