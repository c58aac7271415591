package graft.ops

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonFactory, JsonGenerator,
  JsonParseException, JsonParser, JsonProcessingException, StreamReadConstraints}
import com.fasterxml.jackson.core.JsonToken.{END_ARRAY, END_OBJECT, FIELD_NAME,
  START_ARRAY, START_OBJECT, VALUE_STRING}
import org.apache.spark.sql.types.{DataType, StructType}

import TableManifest.{DeltaRec, Dropped, FileBloom, FileStats, FileStringStats,
  Rename, Snap}

/** The manifest body format, behind one encoder and one decoder over
  * jackson-core's streaming generator and parser. A body is one JSON
  * object: a CHECKPOINT holds a complete snapshot ([[Snap]]), a DELTA
  * record (`"delta":1,"base":B`, B the checkpoint its replay chain starts
  * at) holds the names added and removed against the previous version
  * plus stat overlays ([[DeltaRec]]). Sections, in the order written:
  *  - `version`, `token`; `delta`, `base` (delta records only);
  *  - `features`: reader capabilities the body requires
  *    ([[TableManifest.SupportedReaderFeatures]]);
  *  - `hwm`, `ctime`: stream high-water mark, commit wall-clock millis;
  *  - `schemab64`, `partschemab64`: base64 of Spark's schema JSON;
  *  - `colmapb64` (checkpoints only): the column mapping, see
  *    [[encodeColmap]];
  *  - `files` (checkpoints) or `adds` and `removes`: sorted file names;
  *  - `dvs`: file → [deletion-vector sidecar, deleted rows];
  *  - `statsv` and `stats`: file → column → [min, max];
  *  - `sstats`: file → column → ["min", "max"];
  *  - `bloom`: file → column → hex bitmap;
  *  - `filestat`: file → [byte length, mtime millis].
  *
  * The decoder takes the sections in any order and skips keys it does not
  * know. The order is kept anyway: builds before this codec read bodies
  * with regexes anchored on it, so a body whose strings all match
  * [[LegacyString]] is byte-identical to what they wrote and stays
  * readable by them; any other body stamps `utf8strings`, which they
  * refuse by name. */
private[graft] object ManifestCodec {

  /** File names are object keys, so interning them (jackson's default)
    * only fills the intern table: parsing is about 2× slower with it on.
    * Strings are unbounded like the bodies they come from (an explicit
    * carrier list can make `colmapb64` tens of MB). */
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .disable(JsonFactory.Feature.CANONICALIZE_FIELD_NAMES)
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxStringLength(Int.MaxValue).build())
    .build()

  /** Numeric-stats FORMAT version. Bumped to 2 when timestamp footer
    * bounds started being normalized to unix-micros: a manifest written
    * before the bump may hold a timestamp column's bounds in RAW writer
    * units (e.g. millis), and re-interpreting those as micros would prune
    * day slices 1000× off — silently wrong results. Readers therefore
    * IGNORE the numeric `stats` of any body whose `statsv` predates the
    * current format (conservative: every file stays a candidate until
    * re-analyzed under the new format); string stats and blooms are
    * unit-free and unaffected. */
  private val StatsFormat = 2L

  /** The strings every build before `utf8strings` reads back exactly: its
    * regex parser needed stat names and bounds free of quotes, braces,
    * backslashes and escapes, and compared bounds in Java string order,
    * which agrees with UTF-8 byte order only on this charset. */
  private val LegacyString = "[A-Za-z0-9_.:/+=@%-]{0,64}".r

  /** The feature a body stamps when some stat or column-mapping string in
    * it does not match [[LegacyString]], or a file name holds a control
    * character (which the body escapes): its strings are JSON-escaped full
    * Unicode, and string bounds compare in UTF-8 byte order. */
  val Utf8Strings = "utf8strings"

  /** Refuses file names a reader could not take back: victim reads pass
    * names to `spark.read.parquet`, which treats `[]{}\` as glob syntax,
    * and a quote would end the name for every build before
    * `utf8strings`. Returns whether some name holds a control character. */
  private def requireJsonSafeNames(names: Iterable[String]): Boolean = {
    var control = false
    names.foreach { f =>
      require(f.nonEmpty, s"manifest file name not JSON-safe: $f")
      var i = 0
      while (i < f.length) {
        val c = f.charAt(i)
        require(c != '"' && c != '[' && c != ']' && c != '{' && c != '}' &&
          c != '\\', s"manifest file name not JSON-safe: $f")
        if (c < ' ') control = true
        i += 1
      }
    }
    control
  }

  /** A checkpoint body for `s`, its files written in `s.files` order: the
    * order the column mapping's carrier bitmaps index (commits pass them
    * sorted). */
  def encodeCheckpoint(version: Long, token: String, s: Snap): Array[Byte] = {
    val colmap =
      if (s.renames.isEmpty && s.dropped.isEmpty) None
      else Some(encodeColmap(s.renames, s.dropped, s.files))
    encode(version, token, None, Seq("files" -> s.files), colmap,
      s.renames.flatMap(r => Seq(r.to, r.from)) ++ s.dropped.map(_.name),
      s.hwm, s.ctime, s.schema, s.partSchema, s.dvs, s.stats, s.sstats,
      s.bloom, s.fstat)
  }

  /** A delta record body for `d`, adds and removes in the order given
    * (commits pass them sorted). A record never restates the column
    * mapping: it inherits it. */
  def encodeDelta(version: Long, token: String, d: DeltaRec): Array[Byte] =
    encode(version, token, Some(d.base),
      Seq("adds" -> d.adds, "removes" -> d.removes), None, Seq.empty,
      d.hwm, d.ctime, d.schema, d.partSchema, d.dvs, d.stats, d.sstats,
      d.bloom, d.fstat)

  private def encode(version: Long, token: String, base: Option[Long],
      nameArrays: Seq[(String, Seq[String])], colmap: Option[String],
      mappedNames: Seq[String], hwm: Option[Long], ctime: Option[Long],
      schema: Option[StructType], partSchema: Option[StructType],
      dvs: Map[String, (String, Long)], stats: FileStats,
      sstats: FileStringStats, bloom: FileBloom,
      fstat: Map[String, (Long, Long)]): Array[Byte] = {
    val control = nameArrays.map(a => requireJsonSafeNames(a._2)).contains(true)
    requireJsonSafeNames(dvs.values.map(_._1))
    // each distinct string is matched once
    val seen = scala.collection.mutable.HashSet.empty[String]
    def legacy(s: String) = seen(s) || (LegacyString.matches(s) && seen.add(s))
    def legacyName(s: String) = s.nonEmpty && legacy(s)
    val utf8 = control || !(mappedNames.forall(legacyName) &&
      stats.valuesIterator.forall(_.keysIterator.forall(legacyName)) &&
      bloom.valuesIterator.forall(_.keysIterator.forall(legacyName)) &&
      sstats.valuesIterator.forall(_.forall { case (c, (lo, hi)) =>
        legacyName(c) && legacy(lo) && legacy(hi) }))
    // a body requires only what it carries, so plain tables stamp nothing
    // and stay readable by every build
    val features = Seq("colmap" -> colmap.isDefined, "dvs" -> dvs.nonEmpty,
      Utf8Strings -> utf8).collect { case (f, true) => f }
    generate { g =>
      def obj[A](m: Map[String, A])(value: A => Unit): Unit = {
        g.writeStartObject()
        m.toSeq.sortBy(_._1).foreach { case (k, a) => g.writeFieldName(k); value(a) }
        g.writeEndObject()
      }
      def section[A](key: String, m: Map[String, A])(value: A => Unit): Unit =
        if (m.nonEmpty) { g.writeFieldName(key); obj(m)(value) }
      def pair(a: => Unit, b: => Unit): Unit = {
        g.writeStartArray(); a; b; g.writeEndArray()
      }
      def schemaField(key: String, s: StructType): Unit = g.writeStringField(key,
        Base64.getEncoder.encodeToString(s.json.getBytes(StandardCharsets.UTF_8)))
      g.writeStartObject()
      g.writeNumberField("version", version)
      g.writeStringField("token", token)
      base.foreach { b => g.writeNumberField("delta", 1); g.writeNumberField("base", b) }
      if (features.nonEmpty) stringArray(g, "features", features)
      hwm.foreach(g.writeNumberField("hwm", _))
      ctime.foreach(g.writeNumberField("ctime", _))
      schema.foreach(schemaField("schemab64", _))
      partSchema.foreach(schemaField("partschemab64", _))
      colmap.foreach(g.writeStringField("colmapb64", _))
      nameArrays.foreach { case (k, ns) => stringArray(g, k, ns) }
      section("dvs", dvs) { case (dv, n) => pair(g.writeString(dv), g.writeNumber(n)) }
      if (stats.nonEmpty) g.writeNumberField("statsv", StatsFormat)
      section("stats", stats)(obj(_) { case (lo, hi) =>
        pair(g.writeNumber(lo), g.writeNumber(hi)) })
      section("sstats", sstats)(obj(_) { case (lo, hi) =>
        pair(g.writeString(lo), g.writeString(hi)) })
      section("bloom", bloom)(obj(_)(g.writeString))
      section("filestat", fstat) { case (len, mtime) =>
        pair(g.writeNumber(len), g.writeNumber(mtime)) }
      g.writeEndObject()
    }
  }

  private def generate(f: JsonGenerator => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val g = factory.createGenerator(out)
    f(g)
    g.close()
    out.toByteArray
  }

  private def stringArray(g: JsonGenerator, key: String, ss: Seq[String]): Unit = {
    g.writeArrayFieldStart(key)
    ss.foreach(g.writeString)
    g.writeEndArray()
  }

  /** Parse one body: `Right(Snap)` for a checkpoint (its `base` is
    * `version`), `Left(DeltaRec)` for a delta record. Refuses, by name,
    * a body requiring a reader feature this build does not know (every
    * build writes `features` before any section it governs), and throws
    * `IllegalArgumentException` on a body that is not a manifest. */
  def decode(version: Long, body: Array[Byte]): Either[DeltaRec, Snap] =
    parsing(s"manifest v$version", body) { p =>
      val field = scala.collection.mutable.Map.empty[String, Any]
      expect(p, p.nextToken(), START_OBJECT)
      while (p.nextToken() == FIELD_NAME) {
        val key = p.currentName()
        p.nextToken()
        field(key) = key match {
          case "features" => requireSupported(version, strings(p))
          case "delta" | "base" | "hwm" | "ctime" | "statsv" => p.getLongValue
          case "schemab64" | "partschemab64" => schemaOf(text(p))
          case "colmapb64" => text(p)
          case "files" | "adds" | "removes" => strings(p)
          case "dvs" => obj(p)(pair(_)(text, _.getLongValue))
          case "stats" => obj(p)(obj(_)(pair(_)(_.getLongValue, _.getLongValue)))
          case "sstats" => obj(p)(obj(_)(pair(_)(text, text)))
          case "bloom" => obj(p)(obj(_)(text))
          case "filestat" => obj(p)(pair(_)(_.getLongValue, _.getLongValue))
          case _ => p.skipChildren()
        }
      }
      expect(p, p.currentToken(), END_OBJECT)
      def get[A](k: String): Option[A] = field.get(k).map(_.asInstanceOf[A])
      def required[A](k: String): A =
        get[A](k).getOrElse(throw new JsonParseException(p, s"missing $k"))
      def map[A](k: String): Map[String, A] = get[Map[String, A]](k).getOrElse(Map.empty)
      // numeric stats of an older format may be in other units
      val stats: FileStats =
        if (get[Long]("statsv").contains(StatsFormat)) map("stats") else Map.empty
      val schema = get[Option[StructType]]("schemab64").flatten
      val partSchema = get[Option[StructType]]("partschemab64").flatten
      if (get[Long]("delta").contains(1L))
        Left(DeltaRec(required[Long]("base"), required("adds"), required("removes"),
          schema, partSchema, stats, map("sstats"), map("bloom"), map("filestat"),
          get("hwm"), get("ctime"), map("dvs")))
      else {
        // a Vector: the append fast path advances it by structural sharing
        // (`++` of a small batch is O(log n + batch))
        val files = required[Vector[String]]("files")
        val (renames, dropped) = get[String]("colmapb64")
          .map(decodeColmap(_, files)).getOrElse((Seq.empty, Seq.empty))
        Right(Snap(files, schema, partSchema, stats, map("sstats"), map("bloom"),
          map("filestat"), get("hwm"), get("ctime"), base = version,
          renames = renames, dropped = dropped, dvs = map("dvs")))
      }
    }

  /** One top-level integer of a body — `ctime`, a record's `base`, the
    * head hint's `v` — without building the rest: bodies put these before
    * their name arrays, so the scan stops early. */
  def topLevelLong(what: String, body: Array[Byte], key: String): Option[Long] =
    parsing(what, body) { p =>
      expect(p, p.nextToken(), START_OBJECT)
      var found: Option[Long] = None
      while (found.isEmpty && p.nextToken() == FIELD_NAME) {
        val k = p.currentName()
        p.nextToken()
        if (k == key) found = Some(p.getLongValue) else p.skipChildren()
      }
      found
    }

  private def parsing[A](what: String, body: Array[Byte])(f: JsonParser => A): A = {
    val p = factory.createParser(body)
    try f(p)
    catch {
      case e: JsonProcessingException => throw new IllegalArgumentException(
        s"malformed $what: ${e.getOriginalMessage}", e)
    } finally p.close()
  }

  private def requireSupported(version: Long, features: Seq[String]): Unit = {
    val unknown = features.toSet -- TableManifest.SupportedReaderFeatures
    if (unknown.nonEmpty) throw new TableManifest.UnsupportedTableFeatureException(
      s"manifest v$version requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString("[", ", ", "]")} this build does not " +
        "implement (supported: " +
        s"${TableManifest.SupportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
        "upgrade the engine to read this table")
  }

  /** A schema that fails to decode reads as absent: readers fall back to
    * merged footer inference, which costs planning time, never
    * correctness. */
  private def schemaOf(b64: String): Option[StructType] =
    scala.util.Try(DataType.fromJson(new String(Base64.getDecoder.decode(b64),
      StandardCharsets.UTF_8)).asInstanceOf[StructType]).toOption

  private def expect(p: JsonParser, got: Any, want: Any): Unit =
    if (got != want) throw new JsonParseException(p, s"expected $want, got $got")

  private def text(p: JsonParser): String = {
    expect(p, p.currentToken(), VALUE_STRING)
    p.getText
  }

  private def strings(p: JsonParser): Vector[String] = {
    expect(p, p.currentToken(), START_ARRAY)
    val b = Vector.newBuilder[String]
    while (p.nextToken() == VALUE_STRING) b += p.getText
    expect(p, p.currentToken(), END_ARRAY)
    b.result()
  }

  private def pair[A, B](p: JsonParser)(a: JsonParser => A,
      b: JsonParser => B): (A, B) = {
    expect(p, p.currentToken(), START_ARRAY)
    p.nextToken()
    val x = a(p)
    p.nextToken()
    val y = b(p)
    expect(p, p.nextToken(), END_ARRAY)
    (x, y)
  }

  private def obj[A](p: JsonParser)(value: JsonParser => A): Map[String, A] = {
    expect(p, p.currentToken(), START_OBJECT)
    val b = Map.newBuilder[String, A]
    while (p.nextToken() == FIELD_NAME) {
      val k = p.currentName()
      p.nextToken()
      b += k -> value(p)
    }
    expect(p, p.currentToken(), END_OBJECT)
    b.result()
  }

  /** The column mapping: base64 of a JSON array of [[Rename]] entries
    * (`{"to":…,"from":…,<carriers>}`) followed by [[Dropped]] tombstones
    * (`{"dropped":…,<carriers>}`). Carriers are always a subset of the
    * same body's `files`, so each set is stored as `carrbm` — a base64
    * BITMAP over `sortedFiles` (bit i = sortedFiles(i) is a carrier) —
    * instead of restating O(carriers) names per entry: k chained renames
    * on a 1M-file table cost k × 125 KB of bitmap instead of k × ~40 MB of
    * names. A set with a carrier missing from the list (never expected)
    * falls back to the explicit `"carriers":[…]` shape that builds before
    * the bitmap wrote. Only checkpoints carry the mapping; delta records
    * inherit it, which is why a commit that changes it checkpoints. */
  def encodeColmap(renames: Seq[Rename], dropped: Seq[Dropped],
      sortedFiles: Seq[String]): String =
    Base64.getEncoder.encodeToString(generate { g =>
      def entry(names: Seq[(String, String)], carriers: Set[String]): Unit = {
        g.writeStartObject()
        names.foreach { case (k, v) => g.writeStringField(k, v) }
        carrierBitmap(carriers, sortedFiles) match {
          case Some(bm) => g.writeStringField("carrbm", bm)
          case None =>
            requireJsonSafeNames(carriers)
            stringArray(g, "carriers", carriers.toSeq.sorted)
        }
        g.writeEndObject()
      }
      g.writeStartArray()
      renames.foreach(r => entry(Seq("to" -> r.to, "from" -> r.from), r.carriers))
      dropped.foreach(d => entry(Seq("dropped" -> d.name), d.carriers))
      g.writeEndArray()
    })

  def decodeColmap(b64: String,
      sortedFiles: Seq[String]): (Seq[Rename], Seq[Dropped]) =
    parsing("column mapping", Base64.getDecoder.decode(b64)) { p =>
      expect(p, p.nextToken(), START_ARRAY)
      val entries = Vector.newBuilder[Map[String, Vector[String]]]
      while (p.nextToken() == START_OBJECT)
        entries += obj(p)(q =>
          if (q.currentToken() == START_ARRAY) strings(q) else Vector(text(q)))
      expect(p, p.currentToken(), END_ARRAY)
      def carriers(e: Map[String, Vector[String]]): Set[String] =
        e.get("carriers").map(_.toSet)
          .getOrElse(fromBitmap(e("carrbm").head, sortedFiles))
      val (dropped, renames) = entries.result().partition(_.contains("dropped"))
      (renames.map(e => Rename(e("to").head, e("from").head, carriers(e))),
        dropped.map(e => Dropped(e("dropped").head, carriers(e))))
    }

  /** Bitmap over `sortedFiles` for a carrier set, or None when some
    * carrier is not in the list. One pass over the FILE list with a
    * set-membership probe per name — no files→index map is ever built (a
    * 1M-entry boxed map per checkpoint was the measurable cost of the
    * encoding); every carrier found ⟺ the set bits count matches the
    * set's size (names are distinct). */
  private def carrierBitmap(carriers: Set[String],
      sortedFiles: Seq[String]): Option[String] = {
    val bytes = new Array[Byte]((sortedFiles.length + 7) / 8)
    var found = 0
    var i = 0
    val it = sortedFiles.iterator
    while (it.hasNext) {
      if (carriers(it.next())) {
        bytes(i >> 3) = (bytes(i >> 3) | (1 << (i & 7))).toByte
        found += 1
      }
      i += 1
    }
    if (found == carriers.size) Some(Base64.getEncoder.encodeToString(bytes))
    else None
  }

  private def fromBitmap(bm: String, sortedFiles: Seq[String]): Set[String] = {
    val bytes = Base64.getDecoder.decode(bm)
    val out = Set.newBuilder[String]
    var i = 0
    val n = math.min(sortedFiles.length, bytes.length * 8)
    while (i < n) {
      if ((bytes(i >> 3) & (1 << (i & 7))) != 0) out += sortedFiles(i)
      i += 1
    }
    out.result()
  }
}
