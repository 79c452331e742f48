package graft.data

import graft.core._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Graph persistence — the engine's source/sink surface (SURVEY §2.A).
  *
  * The reference reads/writes BigTable rows via storage adapters and exports
  * GraphSON/Gryo through TinkerPop serializers (tc/graphdb/tinkerpop/
  * TitanIoRegistry.java). Here the canonical store is Parquet (columnar
  * vertices/edges + a JSON schema catalog file), and GraphSON-style JSON
  * export/import is provided for interchange.
  */
object GraphIO {

  /** Persist the graph: parquet vertices/edges. Edges are written in the
    * vertex-centric layout (bucketed by src, sorted by (src,label)) so slice
    * queries prune on min/max stats — the default layout a 100 TB deployment
    * wants (SURVEY §1.4 adjacency mapping). */
  def save(g: PropertyGraph, path: String, buckets: Int = 32): Unit = {
    // vertices partitioned by label: label-filtered scans prune whole
    // directories (the columnar analogue of the reference's per-label
    // partitioned vertex ids, IDManager.java:348-356)
    g.vertices.write.mode(SaveMode.Overwrite)
      .partitionBy("label").parquet(s"$path/vertices")
    g.edges.repartition(buckets, col("src"))
      .sortWithinPartitions(col("src"), col("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/edges")
    // the catalog travels WITH the data (the reference stores schema
    // vertices inside the graph, IDManager.java:348-350) — TTLs, static/
    // partitioned flags, multiplicities, signatures, sort keys and index
    // definitions survive the round-trip instead of being re-derived weaker
    // by the first-use maker on load
    writeText(s"$path/schema.json", graft.core.SchemaJson.toJson(g.schema))
    // close the snapshot-staleness loop: any PlanCache entry (or memoized
    // index broadcast-gate decision) whose plan read files under this path
    // is now stale — flush so the next same-plan call recomputes from the
    // overwritten store instead of serving the frozen snapshot
    graft.core.PlanCache.invalidatePath(g.spark, path)
    graft.index.Indexes.clearGateDecisions(g.spark)
  }

  private def writeText(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readTextIfExists(path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Load recovers the persisted catalog (schema.json next to the frames)
    * when present — the stored definitions are the base, and the caller's
    * explicit `schema` entries win per name (the caller is "management").
    * The configured schema maker (`spark.graft.schema.default`, the
    * reference's `schema.default` graph config) then runs over the merged
    * catalog: `default` auto-completes anything still undeclared first-use,
    * `none` throws (DisableDefaultSchemaMaker). */
  def load(spark: SparkSession, path: String, schema: GraphSchema = GraphSchema()): PropertyGraph = {
    val v = spark.read.parquet(s"$path/vertices")
    val e = spark.read.parquet(s"$path/edges")
    val merged = graft.mgmt.DefaultSchemaMaker.applyConfigured(
      spark, mergedSchema(path, schema), v, e)
    if (spark.conf.getOption("spark.graft.schema.checkEndpoints").contains("true"))
      checkEndpointDeclarations(merged, v, e)
    PropertyGraph(merged, v, e)
  }

  /** Opt-in declared-endpoint validation (`spark.graft.schema.checkEndpoints
    * =true`, the checkDims pattern): asserts every edge whose EdgeLabelDef
    * declares srcLabels/dstLabels actually connects vertices of those labels.
    * A stale/false declaration otherwise goes undetected — by design it only
    * mis-scopes supernode-salting routing (plan shape, never results), but a
    * catalog that lies about the data is worth one extra opt-in pass. A
    * missing endpoint vertex (ghost) counts as a violation: it cannot carry
    * any declared label. Cost: one edges⋈vertices×2 join over ONLY the
    * declared labels' edges, reduced to ≤ #edge-labels rows. */
  private[graft] def checkEndpointDeclarations(
      schema: GraphSchema, v: DataFrame, e: DataFrame): Unit = {
    val declared = schema.edgeLabels.values.toSeq
      .filter(d => d.srcLabels.nonEmpty || d.dstLabels.nonEmpty)
    if (declared.isEmpty) return
    val spark = v.sparkSession
    import spark.implicits._
    val decl = broadcast(declared
      .map(d => (d.name, d.srcLabels.toSeq.sorted, d.dstLabels.toSeq.sorted))
      .toDF("label", "src_ok", "dst_ok"))
    def sideBad(okCol: String, labelCol: String) = // ghost endpoint ⇒ null ⇒ bad
      size(col(okCol)) > 0 && !coalesce(array_contains(col(okCol), col(labelCol)), lit(false))
    val bad = e.select(col("src"), col("dst"), col("label")).join(decl, Seq("label"))
      .join(v.select(col("id").as("src"), col("label").as("src_label")), Seq("src"), "left")
      .join(v.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"), "left")
      .filter(sideBad("src_ok", "src_label") || sideBad("dst_ok", "dst_label"))
      .groupBy(col("label")).agg(count(lit(1)).as("violations"),
        first(col("src_label"), ignoreNulls = false).as("sample_src"),
        first(col("dst_label"), ignoreNulls = false).as("sample_dst"))
      .collect() // bounded control read: ≤ one row per declared edge label
    if (bad.nonEmpty) {
      val detail = bad.map(r => s"${r.getString(0)}: ${r.getLong(1)} edge(s) violate " +
        s"the declared endpoints (sample src label ${r.get(2)}, dst label ${r.get(3)})")
      throw new IllegalStateException(
        "edge-label endpoint declarations contradict the data — " + detail.mkString("; "))
    }
  }

  /** Persisted-catalog merge shared by every format's import: the stored
    * schema.json (when present) is the base, the caller's explicit entries
    * win per name (the caller is "management"). */
  private def mergedSchema(path: String, schema: GraphSchema): GraphSchema = {
    val stored = readTextIfExists(s"$path/schema.json")
      .map(graft.core.SchemaJson.fromJson).getOrElse(GraphSchema())
    stored.copy(
      propertyKeys = stored.propertyKeys ++ schema.propertyKeys,
      edgeLabels = stored.edgeLabels ++ schema.edgeLabels,
      vertexLabels = stored.vertexLabels ++ schema.vertexLabels,
      indexes = stored.indexes ++ schema.indexes,
      relationIndexes = stored.relationIndexes ++ schema.relationIndexes,
      ttlReadTime = schema.ttlReadTime.orElse(stored.ttlReadTime),
      variables = stored.variables ++ schema.variables)
  }

  /** GraphSON-style export: one JSON object per element, vertices and edges in
    * separate directories (TinkerPop 3 GraphSON is line-JSON too). The
    * catalog travels with the graph (schema.json sidecar) like every other
    * format — foreign readers simply ignore the extra file. */
  def exportJson(g: PropertyGraph, path: String): Unit = {
    g.vertices.write.mode(SaveMode.Overwrite).json(s"$path/vertices")
    g.edges.write.mode(SaveMode.Overwrite).json(s"$path/edges")
    writeText(s"$path/schema.json", graft.core.SchemaJson.toJson(g.schema))
  }

  def importJson(spark: SparkSession, path: String,
      schema: GraphSchema = GraphSchema()): PropertyGraph =
    PropertyGraph(mergedSchema(path, schema),
      spark.read.json(s"$path/vertices"),
      spark.read.json(s"$path/edges"))

  /** TinkerPop io() dispatch — `graph.io(IoCore.graphson()).writeGraph(...)`
    * parity: one entry point over every supported interchange format plus
    * the native parquet store. */
  sealed trait Format
  object Format {
    case object Parquet extends Format
    case object GraphSon extends Format
    case object Gryo extends Format
    case object GraphMl extends Format
  }

  def write(g: PropertyGraph, path: String, format: Format): Unit = format match {
    case Format.Parquet => save(g, path)
    case Format.GraphSon => exportJson(g, path)
    case Format.Gryo => exportGryo(g, path)
    case Format.GraphMl => exportGraphml(g, path)
  }

  def read(spark: SparkSession, path: String, format: Format,
      schema: GraphSchema = GraphSchema()): PropertyGraph = format match {
    case Format.Parquet => load(spark, path, schema)
    case Format.GraphSon => importJson(spark, path, schema)
    case Format.Gryo => importGryo(spark, path, schema)
    case Format.GraphMl => importGraphml(spark, path, schema)
  }

  // ------------------------------------------------------------------
  // GraphML IO — the third TinkerPop interchange format (GraphMLReader/
  // Writer; reference graphs are routinely seeded from .graphml fixtures
  // through the TinkerPop integration the reference ships,
  // tc/graphdb/tinkerpop/TitanIoRegistry.java registers the io() surface).
  // Spark-native re-expression: per-element <node>/<edge> fragments encoded
  // DISTRIBUTED by the engine's native to_xml (one fragment per row, text
  // parts — no driver materialization), plus tiny header/footer sidecars
  // declaring the <key> types, laid out so that
  //   header.xml + nodes/* + edges/* + zfooter.xml
  // concatenates to ONE well-formed GraphML document (the spec proves it by
  // DOM-parsing the concatenation). Import reads the fragments with the
  // native XML datasource under an EXPLICIT schema (no per-file inference
  // drift) and rebuilds typed columns from the <key> declarations via an
  // explode + grouped first-match pivot — one shuffle keyed by element id.
  // Values are carried as XML text; non-primitive types (timestamps, dates)
  // are declared attr.type="string" (GraphML's attr.type vocabulary is
  // boolean/int/long/float/double/string only — same narrowing TinkerPop's
  // GraphMLWriter applies), but each narrowed <key> also records the TRUE
  // Spark type in a `graft.type` attribute, and import re-casts from it —
  // so a parquet → GraphML → parquet round trip preserves timestamp/date/
  // decimal columns while staying valid GraphML for foreign readers (extra
  // attributes are well-formed XML; foreign writers simply omit them).
  // ------------------------------------------------------------------

  private val GraphmlReserved = Set("id", "src", "dst", "label")

  /** XML attribute escaping for builder-authored header sidecars (fragment
    * values go through to_xml, which escapes natively; the header is string
    * concat, where a property name containing '&', '<' or '"' would
    * otherwise emit malformed XML). */
  private def xmlAttrEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  private def xmlAttrUnescape(s: String): String =
    s.replace("&apos;", "'").replace("&quot;", "\"").replace("&gt;", ">")
      .replace("&lt;", "<").replace("&amp;", "&")

  /** String-narrowed Spark types whose values round-trip exactly through a
    * string cast (given one session time zone): these earn a `graft.type`
    * re-cast declaration. Complex types (arrays, structs) do NOT — their
    * string forms are not cast-parseable, so they stay strings and the
    * narrowing is the documented parity behavior. */
  private def graphmlRecastType(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | DateType | ByteType | ShortType => Some(dt.catalogString)
      case _: DecimalType => Some(dt.catalogString)
      case _ => None
    }
  }

  private def graphmlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "boolean"
      case IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case _ => "string"
    }
  }

  private def graphmlSparkType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case _ => StringType
    }
  }

  /** One `<node>`/`<edge>` XML fragment per element row, encoded by the
    * native to_xml — attributes via the default `_` prefix, `<data>` entries
    * as an array of (_key, _VALUE) structs with null values dropped (GraphML
    * has no null literal; an absent <data> IS the null). */
  /** Property key IDs: a kind prefix (`v_` for vertex, `e_` for edge
    * properties) is prepended until the id is unique against every
    * already-taken id (the reserved label key ids, then earlier assignments
    * in column order — deterministic, so import reproduces it). The GraphML
    * spec requires document-wide unique key ids; TinkerPop's writer
    * disambiguates the same way. Vertex names go through the SAME chain as
    * edge names: a vertex property literally named `labelV`/`labelE` would
    * otherwise duplicate a reserved key id (invalid GraphML) and corrupt
    * the label on import. `attr.name` keeps the real property name — ids
    * are wire artifacts. */
  private def graphmlKeyIds(props: Seq[String], prefix: String,
      taken0: Set[String]): Map[String, String] = {
    var taken = taken0
    props.map { n =>
      var id = n
      while (taken.contains(id)) id = s"$prefix$id"
      taken += id
      n -> id
    }.toMap
  }

  private def graphmlFragments(df: DataFrame, isVertex: Boolean,
      keyIds: Map[String, String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val props = df.columns.filterNot(GraphmlReserved).toSeq
    val labelKey = if (isVertex) "labelV" else "labelE"
    val entries =
      struct(lit(labelKey).as("_key"), col("label").cast("string").as("_VALUE")) +:
        props.map(p => struct(lit(keyIds(p)).as("_key"), col(p).cast("string").as("_VALUE")))
    val data = filter(array(entries: _*), s => s.getField("_VALUE").isNotNull)
    val el =
      if (isVertex) struct(col("id").cast("string").as("_id"), data.as("data"))
      else struct(col("id").cast("string").as("_id"),
        col("src").cast("string").as("_source"),
        col("dst").cast("string").as("_target"), data.as("data"))
    df.select(to_xml(el, Map("rowTag" -> (if (isVertex) "node" else "edge")).asJava).as("value"))
  }

  /** GraphML export: distributed fragments + header/footer sidecars (layout
    * documented above). Key ids are unique document-wide (vertex then edge
    * keys take a kind prefix on collision — including against the reserved
    * label key ids), attribute values in the builder-authored header are
    * XML-escaped, and string-narrowed types carry their true Spark type as
    * `graft.type` so import can re-cast. */
  def exportGraphml(g: PropertyGraph, path: String): Unit = {
    def typesOf(df: DataFrame) = df.schema.fields
      .filterNot(f => GraphmlReserved(f.name))
      .map(f => (f.name, graphmlType(f.dataType), graphmlRecastType(f.dataType))).toSeq
    val vTypes = typesOf(g.vertices)
    val eTypes = typesOf(g.edges)
    val vKeyIds = graphmlKeyIds(vTypes.map(_._1), "v_", Set("labelV", "labelE"))
    val eKeyIds = graphmlKeyIds(eTypes.map(_._1), "e_",
      Set("labelV", "labelE") ++ vKeyIds.values)
    def decl(id: String, kind: String, name: String, t: String, recast: Option[String]) = {
      val extra = recast.map(r => s""" graft.type="${xmlAttrEscape(r)}"""").getOrElse("")
      s"""<key id="${xmlAttrEscape(id)}" for="$kind" attr.name="${xmlAttrEscape(name)}" attr.type="$t"$extra/>"""
    }
    val keyDecls =
      Seq(decl("labelV", "node", "labelV", "string", None),
        decl("labelE", "edge", "labelE", "string", None)) ++
        vTypes.map { case (n, t, r) => decl(vKeyIds(n), "node", n, t, r) } ++
        eTypes.map { case (n, t, r) => decl(eKeyIds(n), "edge", n, t, r) }
    writeText(s"$path/header.xml",
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<graphml xmlns=\"http://graphml.graphdrawing.org/xmlns\">\n" +
        keyDecls.mkString("\n") + "\n<graph id=\"G\" edgedefault=\"directed\">")
    writeText(s"$path/zfooter.xml", "</graph>\n</graphml>")
    graphmlFragments(g.vertices, isVertex = true, vKeyIds)
      .write.mode(SaveMode.Overwrite).text(s"$path/nodes")
    graphmlFragments(g.edges, isVertex = false, eKeyIds)
      .write.mode(SaveMode.Overwrite).text(s"$path/edges")
    // the catalog travels with the graph like every other format (sidecar
    // file outside the header+parts+footer concatenation, so the document
    // stays well-formed; foreign readers ignore it)
    writeText(s"$path/schema.json", graft.core.SchemaJson.toJson(g.schema))
  }

  /** GraphML import: fragment parts split on the element close tag (the text
    * source's `lineSep` — sound because XML escaping makes a literal
    * `</node>` impossible inside text content), each fragment parsed by the
    * native from_xml under an EXPLICIT schema, typed columns rebuilt from
    * the header's <key> declarations. The pivot is a grouped first-match —
    * one exchange keyed by element id, map-side combinable, no window.
    * (The whole-file XML datasource is NOT used: it requires each part to be
    * a well-formed single-root document, which sibling fragments aren't.) */
  def importGraphml(spark: SparkSession, path: String,
      schema: GraphSchema = GraphSchema()): PropertyGraph = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val header = readTextIfExists(s"$path/header.xml").getOrElse(
      throw new IllegalStateException(s"GraphML import: $path/header.xml missing"))
    // (key id, for, attr.name, attr.type, graft.type?) — data entries
    // reference the ID, the rebuilt COLUMN takes the attr.name (ids are wire
    // artifacts that may carry the v_/e_ disambiguation prefix); graft.type,
    // when present, is the true Spark type a string-narrowed column re-casts
    // to (our own exports emit it; foreign GraphML simply lacks it).
    // Parsing is attribute-ORDER-insensitive and accepts expanded (non-self-
    // closing) tags — foreign writers order attributes freely and may nest a
    // <default> child. A declaration missing `id` throws (data entries could
    // not reference it); one missing attr.name/attr.type is SKIPPED WITH A
    // LOUD WARNING naming the tag — foreign tool-metadata keys (e.g. yEd's
    // yfiles.type) declare no data property at all, and aborting the whole
    // import over them would be the worse failure mode. The tag capture
    // consumes quoted attribute values atomically, so a raw '>' inside a
    // value (legal XML) cannot truncate the declaration.
    def keyAttr(tag: String, name: String): Option[String] =
      ("""(?<=\s)""" + java.util.regex.Pattern.quote(name) + """="([^"]*)"""").r
        .findFirstMatchIn(tag).map(m => xmlAttrUnescape(m.group(1)))
    val keys = """<key\b(?:[^>"]|"[^"]*")*>""".r.findAllIn(header).toSeq.flatMap { tag =>
      val id = keyAttr(tag, "id").getOrElse(throw new IllegalStateException(
        s"GraphML import: <key> declaration missing id: $tag"))
      (keyAttr(tag, "attr.name"), keyAttr(tag, "attr.type")) match {
        case (Some(n), Some(t)) =>
          Some((id, keyAttr(tag, "for").getOrElse("all"), n, t, keyAttr(tag, "graft.type")))
        case _ =>
          System.err.println(
            s"[graft] GraphML import: skipping <key id=\"$id\"> — no attr.name/attr.type " +
              s"(foreign tool metadata?): $tag")
          None
      }
    }
    val fragSchema = StructType(Seq(
      StructField("_id", StringType), StructField("_source", StringType),
      StructField("_target", StringType),
      StructField("data", ArrayType(StructType(Seq(
        StructField("_key", StringType), StructField("_VALUE", StringType)))))))
    def readSide(dir: String, isVertex: Boolean): DataFrame = {
      val labelKey = if (isVertex) "labelV" else "labelE"
      val tag = if (isVertex) "node" else "edge"
      val props = keys.collect {
        case (kid, f, n, t, recast) // for="all" (GraphML's default) applies to both sides
          if (f == tag || f == "all") && kid != labelKey => (kid, n, t, recast) }
      // every fragment has >= 1 <data> child (labelV/labelE is always
      // present), so to_xml never emits a self-closing element and the
      // close-tag split is exact; the trailing whitespace chunk after the
      // last fragment has no open tag and is filtered out
      val raw = spark.read.option("lineSep", s"</$tag>").text(dir)
        .filter(col("value").contains(s"<$tag"))
        .select(from_xml(concat(col("value"), lit(s"</$tag>")), fragSchema,
          Map.empty[String, String].asJava).as("r"))
      val kvs = raw.select(
        Seq(col("r._id").cast(LongType).as("id")) ++
          (if (isVertex) Nil else Seq(col("r._source").cast(LongType).as("src"),
            col("r._target").cast(LongType).as("dst"))) ++
          Seq(explode_outer(col("r.data")).as("kv")): _*)
        .withColumn("k", col("kv._key")).withColumn("v", col("kv._VALUE")).drop("kv")
      val idCols = if (isVertex) Seq(col("id")) else Seq(col("id"), col("src"), col("dst"))
      // coalesce-to-'' preserves EMPTY string values: from_xml parses an
      // empty <data> element's text as null, but the entry itself is proof
      // the property was present — absent key (true null) stays null
      val aggs =
        first(when(col("k") === labelKey, coalesce(col("v"), lit(""))),
          ignoreNulls = true).as("label") +:
          props.map { case (kid, n, t, recast) =>
            val target = recast.map(DataType.fromDDL).getOrElse(graphmlSparkType(t))
            first(when(col("k") === kid, coalesce(col("v"), lit(""))), ignoreNulls = true)
              .cast(target).as(n)
          }
      kvs.groupBy(idCols: _*).agg(aggs.head, aggs.tail: _*)
    }
    PropertyGraph(mergedSchema(path, schema),
      readSide(s"$path/nodes", isVertex = true),
      readSide(s"$path/edges", isVertex = false))
  }

  // ------------------------------------------------------------------
  // Gryo-parity BINARY element IO. The reference registers both GraphSON
  // (JSON) and Gryo (Kryo-based binary) serializers with TinkerPop
  // (tc/graphdb/tinkerpop/TitanIoRegistry.java); exportJson above covers the
  // former, this covers the latter. Spark-native re-expression: every element
  // row becomes ONE self-describing binary frame (field name + type tag +
  // value, Gryo's schema-in-band framing), carried as a single `frame` binary
  // column in parquet. Encoding runs in mapPartitions — serialization is
  // inherently per-row imperative, the documented RDD-boundary exception —
  // and is embarrassingly parallel: no shuffle either way, so the format
  // scales as a pure narrow map over however many partitions the graph has.
  // ------------------------------------------------------------------

  /** Binary export: vertices and edges as framed binaries + frame-schema
    * sidecars, plus the catalog (schema.json) like every other format. */
  def exportGryo(g: PropertyGraph, path: String): Unit = {
    writeGryoFrames(g.vertices, s"$path/vertices")
    writeGryoFrames(g.edges, s"$path/edges")
    writeText(s"$path/schema.json", graft.core.SchemaJson.toJson(g.schema))
  }

  def importGryo(spark: SparkSession, path: String,
      schema: GraphSchema = GraphSchema()): PropertyGraph =
    PropertyGraph(mergedSchema(path, schema),
      readGryoFrames(spark, s"$path/vertices"),
      readGryoFrames(spark, s"$path/edges"))

  def writeGryoFrames(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val fieldNames = df.schema.fieldNames
    val frames = df.rdd.mapPartitions { it =>
      it.map { row =>
        val bos = new java.io.ByteArrayOutputStream(256)
        val out = new java.io.DataOutputStream(bos)
        out.writeShort(fieldNames.length)
        var i = 0
        while (i < fieldNames.length) {
          out.writeUTF(fieldNames(i))
          GryoCodec.write(out, if (row.isNullAt(i)) null else row.get(i))
          i += 1
        }
        out.flush()
        org.apache.spark.sql.Row(bos.toByteArray)
      }
    }
    spark.createDataFrame(frames,
      StructType(Seq(StructField("frame", BinaryType))))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/frames")
    // decode needs the COLUMN layout (order + Spark types) — the per-frame
    // names are for forward-compat field matching, like Gryo's class registry
    import spark.implicits._
    Seq(df.schema.json).toDS().coalesce(1)
      .write.mode(SaveMode.Overwrite).text(s"$path/_gryo_schema")
  }

  def readGryoFrames(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schemaJson = spark.read.textFile(s"$path/_gryo_schema").head()
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val idx = schema.fieldNames.zipWithIndex.toMap
    val rows = spark.read.parquet(s"$path/frames").rdd.mapPartitions { it =>
      it.map { r =>
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
        val n: Int = in.readShort()
        val arr = new Array[Any](idx.size)
        var i = 0
        while (i < n) {
          val name = in.readUTF()
          val v = GryoCodec.read(in)
          // unknown fields are skipped (already consumed) — forward-compat
          idx.get(name).foreach(j => arr(j) = v)
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(arr.toIndexedSeq)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Tag-typed binary value codec for Gryo-style frames. Strings and binaries
    * are 4-byte-length-prefixed (DataOutputStream.writeUTF caps at 64 KiB —
    * document text doesn't fit); timestamps keep full nanosecond precision
    * (millis + nanos, the java.sql.Timestamp split). Arrays recurse. */
  private[data] object GryoCodec {
    import java.io.{DataInputStream, DataOutputStream}

    def write(out: DataOutputStream, v: Any): Unit = v match {
      case null => out.writeByte(0)
      case x: Long => out.writeByte(1); out.writeLong(x)
      case x: Int => out.writeByte(2); out.writeInt(x)
      case x: Double => out.writeByte(3); out.writeDouble(x)
      case x: String =>
        out.writeByte(4)
        val b = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      case x: Boolean => out.writeByte(5); out.writeBoolean(x)
      case x: Float => out.writeByte(6); out.writeFloat(x)
      case x: Array[Byte] => out.writeByte(7); out.writeInt(x.length); out.write(x)
      case x: java.sql.Date => out.writeByte(8); out.writeLong(x.getTime)
      case x: java.sql.Timestamp =>
        out.writeByte(9); out.writeLong(x.getTime); out.writeInt(x.getNanos)
      case x: java.math.BigDecimal => out.writeByte(10); out.writeUTF(x.toString)
      // collection.Seq, not the immutable default alias: Spark rows surface
      // array cells as mutable.ArraySeq, which the bare `Seq` misses on 2.13
      case x: scala.collection.Seq[_] =>
        out.writeByte(11); out.writeInt(x.length); x.foreach(write(out, _))
      case x: Short => out.writeByte(12); out.writeShort(x)
      case x: Byte => out.writeByte(13); out.writeByte(x)
      // struct cells (geo shapes, multi-property cells) — the reference
      // registers Geoshape serializers with both interchange formats
      // (TitanIoTest.testGeoShapeSerializationReadWriteAsGryo) and this
      // codec must not lose them either; field names come from the
      // persisted frame schema, so positions suffice
      case x: org.apache.spark.sql.Row =>
        out.writeByte(14); out.writeInt(x.length)
        var i = 0
        while (i < x.length) {
          write(out, if (x.isNullAt(i)) null else x.get(i)); i += 1
        }
      case x: scala.collection.Map[_, _] =>
        out.writeByte(15); out.writeInt(x.size)
        x.foreach { case (k, v) => write(out, k); write(out, v) }
      case other => throw new IllegalArgumentException(
        s"gryo frame: unsupported value class ${other.getClass.getName}")
    }

    def read(in: DataInputStream): Any = in.readByte() match {
      case 0 => null
      case 1 => in.readLong()
      case 2 => in.readInt()
      case 3 => in.readDouble()
      case 4 =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case 5 => in.readBoolean()
      case 6 => in.readFloat()
      case 7 => val b = new Array[Byte](in.readInt()); in.readFully(b); b
      case 8 => new java.sql.Date(in.readLong())
      case 9 =>
        val ts = new java.sql.Timestamp(in.readLong()); ts.setNanos(in.readInt()); ts
      case 10 => new java.math.BigDecimal(in.readUTF())
      case 11 => IndexedSeq.fill(in.readInt())(read(in))
      case 12 => in.readShort()
      case 13 => in.readByte()
      case 14 => org.apache.spark.sql.Row.fromSeq(IndexedSeq.fill(in.readInt())(read(in)))
      case 15 => IndexedSeq.fill(in.readInt())((read(in), read(in))).toMap
      case t => throw new IllegalStateException(s"gryo frame: unknown type tag $t")
    }
  }

  /** Mutation sink (KCVS mutate analogue, KeyColumnValueStore.java:79): apply
    * a batch of additions and deletions as a snapshot merge — last-writer-wins
    * by element id, deletions as an anti-join.
    *
    * With `enforce=true` (default) the batch is validated the way the
    * reference's transaction commit does: static-label immutability is checked
    * against the PRE-mutation graph (StandardTitanTx verifies vertex label
    * constraints; docs/advschema.txt:9-18) and unique-index / multiplicity
    * consistency (ConsistencyModifier.LOCK / Multiplicity.java:50-75) is
    * re-checked on the POST-mutation graph, scoped to the keys the batch
    * touched — never a full-graph sweep. Checks are eager (they run Spark
    * jobs); a violation throws before any result is returned. */
  def applyMutations(g0: PropertyGraph,
      addVertices: Option[DataFrame] = None, deleteVertexIds: Option[DataFrame] = None,
      addEdges: Option[DataFrame] = None, deleteEdgeIds: Option[DataFrame] = None,
      enforce: Boolean = true): PropertyGraph = {
    // First-use schema maker (Titan runs schema.default inside the write
    // transaction): an added frame carrying an undeclared property key /
    // label auto-creates it (`default`) or throws (`none`) BEFORE the merge,
    // so no mutation can bypass the maker. Runs only when something is added
    // — deletes introduce no types.
    val g =
      if (addVertices.isEmpty && addEdges.isEmpty) g0
      else g0.copy(schema = graft.mgmt.DefaultSchemaMaker.applyConfigured(
        g0.spark, g0.schema,
        addVertices.getOrElse(g0.spark.emptyDataFrame),
        addEdges.getOrElse(g0.spark.emptyDataFrame)))
    if (enforce) {
      val sv = staticLabelViolations(g, addVertices, deleteVertexIds, addEdges, deleteEdgeIds)
      require(sv.isEmpty, s"static-label mutation rejected: ${sv.mkString("; ")}")
    }
    var v = g.vertices
    var e = g.edges
    // catalog-declared TTL ⇒ ingest stamps write-time provenance `_ts` on the
    // added set (docs/advschema.txt:20-70: expiry counts from write time);
    // rows already carrying _ts keep theirs (idempotent replay)
    import graft.expr.ImplicitKeys
    def stamp(df: DataFrame, isVertex: Boolean): DataFrame = {
      val declared = if (isVertex) g.schema.hasVertexTtl else g.schema.hasEdgeTtl
      if (declared && !df.columns.contains(ImplicitKeys.TimestampColumn))
        df.withColumn(ImplicitKeys.TimestampColumn, ImplicitKeys.ttlNow(g.schema))
      else df
    }
    addVertices.foreach { av0 =>
      val av = stamp(av0, isVertex = true)
      v = v.join(av.select(col("id").as("__nid")), col("id") === col("__nid"), "left_anti")
        .unionByName(av, allowMissingColumns = true)
    }
    deleteVertexIds.foreach { dv =>
      val ids = dv.select(col("id").as("__did"))
      v = v.join(ids, col("id") === col("__did"), "left_anti")
      // cascade: edges incident to deleted vertices are removed (the reference
      // deletes the adjacency row; ghosts that escape are handled by GraphOps)
      e = e.join(ids, col("src") === col("__did"), "left_anti")
        .join(ids, col("dst") === col("__did"), "left_anti")
    }
    addEdges.foreach { ae0 =>
      val ae = stamp(ae0, isVertex = false)
      e = e.join(ae.select(col("id").as("__nid")), col("id") === col("__nid"), "left_anti")
        .unionByName(ae, allowMissingColumns = true)
    }
    deleteEdgeIds.foreach { de =>
      e = e.join(de.select(col("id").as("__did")), col("id") === col("__did"), "left_anti")
    }
    val result = refreshIndexTables(g.copy(vertices = v, edges = e))
    if (enforce) {
      val cv = addedSetViolations(result, addVertices, addEdges)
      require(cv.isEmpty, s"consistency violation on mutated keys: ${cv.mkString("; ")}")
    }
    result
  }

  /** Index maintenance across a mutation (the reference updates indexes
    * inside the same transaction — IndexSerializer mutation hooks; a stale
    * index would silently MISS newly written elements, because the
    * access-path semi-join runs before any residual filter can restore
    * rows). Composite index tables re-derive lazily from the mutated graph
    * (a plan rebuild, no recompute until queried). Mixed tables re-derive by
    * sniffing the registered table's LAYOUT — the same recognition the
    * planner's access path applies — so the rebuild uses exactly the
    * materializer the caller chose: (key,token,id) → materializeMixed,
    * (key,kind,value,id) → materializeTextString, (key,value,id) →
    * materializeString, (key,cellvalue,id) → materializeCollection,
    * (key,numvalue,id) → materializeNumeric and (key,tsvalue,id) →
    * materializeTemporal (their key subset is the table's distinct `key`
    * values), (key,cell_deg,cell_lat,cell_lon,id) → materializeGeo (key
    * and cell size are recorded in the table). An unrecognized layout is
    * DROPPED: the planner falls back to the pushed-down full scan, correct
    * but unaccelerated until the caller re-materializes. */
  private[graft] def refreshIndexTables(g2: PropertyGraph): PropertyGraph = {
    if (g2.indexTables.isEmpty) return g2
    val refreshed = g2.indexTables.flatMap { case (name, old) =>
      g2.schema.indexes.get(name) match {
        case Some(ix) if ix.composite =>
          val base = if (ix.element == ElementCategory.VERTEX) g2.vertices else g2.edges
          if (ix.keys.forall(base.columns.contains))
            Some(name -> graft.index.Indexes.materialize(g2, ix))
          else None
        case Some(ix) =>
          val cols = old.columns.toSet
          try {
            if (cols == Set("key", "token", "id"))
              Some(name -> graft.index.Indexes.materializeMixed(g2, ix))
            else if (cols == Set("key", "kind", "value", "id"))
              Some(name -> graft.index.Indexes.materializeTextString(g2, ix))
            else if (cols == Set("key", "value", "id"))
              // scalar STRING layout — the per-element collection layout is
              // structurally distinct (cellvalue column), so no guessing
              Some(name -> graft.index.Indexes.materializeString(g2, ix))
            else if (cols == Set("key", "cellvalue", "id"))
              Some(name -> graft.index.Indexes.materializeCollection(g2, ix))
            else if (cols == Set("key", "numvalue", "id") || cols == Set("key", "tsvalue", "id")) {
              // the caller's key subset is the table's distinct `key` set —
              // a tiny eager agg (key names, not data), like the other
              // eager enforcement jobs in applyMutations
              val ks = old.select(col("key")).distinct()
                .collect().map(_.getString(0)).toSeq
              if (ks.isEmpty) None
              else if (cols("numvalue"))
                Some(name -> graft.index.Indexes.materializeNumeric(g2, ix, ks))
              else Some(name -> graft.index.Indexes.materializeTemporal(g2, ix, ks))
            } else if (cols == Set("key", "cell_deg", "cell_lat", "cell_lon", "id")) {
              // geo grid table is self-describing (key + cell size recorded
              // in the layout) — one 1-row control read recovers the
              // materialization parameters
              val hdr = old.select(col("key"), col("cell_deg")).limit(1).collect()
              if (hdr.isEmpty || hdr(0).getString(0).isEmpty) None
              else Some(name -> graft.index.Indexes.materializeGeo(g2, ix,
                col(hdr(0).getString(0)), hdr(0).getDouble(1)))
            } else None // unknown layout: drop
          } catch {
            // a layout/mapping mismatch the materializer rejects ⇒ drop —
            // stale must not change results
            case _: IllegalArgumentException => None
          }
        case None => None
      }
    }
    g2.copy(indexTables = refreshed)
  }

  private def firstId(df: DataFrame): Option[Any] =
    df.limit(1).collect().headOption.map(_.get(0))

  /** Static vertex labels are immutable after creation: updating or deleting
    * an EXISTING static-label vertex, or touching its adjacency, is rejected;
    * creating a new one is allowed (VertexLabelMaker.setStatic —
    * tc/core/schema/VertexLabelMaker.java:17-39, docs/advschema.txt:9-18). */
  def staticLabelViolations(g: PropertyGraph,
      addVertices: Option[DataFrame], deleteVertexIds: Option[DataFrame],
      addEdges: Option[DataFrame], deleteEdgeIds: Option[DataFrame]): Seq[String] = {
    val staticLabels = g.schema.vertexLabels.values.filter(_.static).map(_.name).toSeq
    if (staticLabels.isEmpty) return Nil
    val staticV = g.vertices.filter(col("label").isin(staticLabels: _*))
      .select(col("id").as("__sid"))
    def hit(ids: DataFrame, what: String): Option[String] =
      firstId(ids.join(staticV, ids("id") === col("__sid"), "left_semi"))
        .map(id => s"$what static-label vertex id=$id")
    val upd = addVertices.flatMap(av => hit(av.select(col("id")), "update of"))
    val del = deleteVertexIds.flatMap(dv => hit(dv.select(col("id")), "delete of"))
    val addE = addEdges.flatMap(ae => hit(
      ae.select(col("src").as("id")).unionAll(ae.select(col("dst").as("id"))),
      "edge added incident to"))
    val delE = deleteEdgeIds.flatMap { de =>
      val doomed = g.edges.join(de.select(col("id").as("__did")),
        col("id") === col("__did"), "left_semi")
      hit(doomed.select(col("src").as("id"))
        .unionAll(doomed.select(col("dst").as("id"))), "edge removed incident to")
    }
    // vertex deletion cascades edge removal — those cascaded edges must pass
    // the same static-adjacency check as an explicit edge delete (an edge
    // between a doomed vertex and a static vertex mutates the static
    // vertex's adjacency). The doomed vertices themselves are checked above.
    val cascE = deleteVertexIds.flatMap { dv =>
      val ids = dv.select(col("id").as("__did"))
      // two equi semi-joins (hash-joinable), not one OR-condition join (a
      // disjunction has no equi-conjunct and would plan as a nested loop
      // over the whole edge table)
      val doomed = g.edges.join(ids, col("src") === col("__did"), "left_semi")
        .unionAll(g.edges.join(ids, col("dst") === col("__did"), "left_semi"))
      hit(doomed.select(col("src").as("id"))
        .unionAll(doomed.select(col("dst").as("id"))),
        "cascaded edge removal incident to")
    }
    Seq(upd, del, addE, delE, cascE).flatten
  }

  /** Post-mutation consistency re-check SCOPED to the touched keys: unique
    * composite indexes are re-grouped only for key values present in the
    * added set, multiplicity bounds only for the src/dst the batch touched —
    * the batch-commit analogue of the reference's per-key LOCK acquisition,
    * and the only shape that survives a 100 TB graph (the full-graph sweeps
    * remain available as PropertyGraph.{uniqueIndex,multiplicity}Violations). */
  def addedSetViolations(g2: PropertyGraph,
      addVertices: Option[DataFrame], addEdges: Option[DataFrame]): Seq[String] = {
    val unique = (for {
      added <- Seq(addVertices -> ElementCategory.VERTEX, addEdges -> ElementCategory.EDGE)
      (addedDf, cat) = added
      df <- addedDf.toSeq
      ix <- g2.schema.indexes.values if ix.unique && ix.composite && ix.element == cat
      if ix.keys.forall(df.columns.contains)
    } yield {
      val table0 = if (cat == ElementCategory.VERTEX) g2.vertices else g2.edges
      val table = ix.onlyLabel.map(l => table0.filter(col("label") === l)).getOrElse(table0)
      val touched = df.select(ix.keys.map(col): _*).distinct()
      // no forced broadcast: a bulk-load batch's distinct key set is
      // unbounded, and the hint would bypass autoBroadcastJoinThreshold at
      // 100x scale (the GraphQuery gating rationale) - AQE broadcasts the
      // small case from actual sizes
      val dup = table.join(touched, ix.keys, "left_semi")
        .groupBy(ix.keys.map(col): _*).count().filter(col("count") > 1)
      firstId(dup).map(k => s"unique index '${ix.name}' violated at key=$k")
    }).flatten
    val mult = addEdges.toSeq.filter(_.columns.contains("label")).flatMap { ae =>
      // one small distinct job up front; labels the batch never touches are
      // skipped entirely instead of paying an eager empty-semi-join sweep
      // per declared label
      val batchLabels = ae.select(col("label")).distinct()
        .collect().map(_.getString(0)).toSet
      g2.schema.edgeLabels.values.toSeq
        .filter(el => batchLabels.contains(el.name)).flatMap { el =>
        val lbl = el.name
        val base = g2.edges.filter(col("label") === lbl)
        val touched = ae.filter(col("label") === lbl)
        def bound(side: String, lim: Long): Option[String] = {
          val keys = touched.select(col(side).as("__k")).distinct()
          // unbounded batch key set: AQE-decided join, no forced broadcast
          val over = base.join(keys, col(side) === col("__k"), "left_semi")
            .groupBy(col(side)).count().filter(col("count") > lim)
          firstId(over).map(k => s"multiplicity ${el.multiplicity} of '$lbl' exceeded at $side=$k")
        }
        val out = el.multiplicity.outLimit.flatMap(bound("src", _))
        val in = el.multiplicity.inLimit.flatMap(bound("dst", _))
        val simple = if (el.multiplicity == Multiplicity.SIMPLE) {
          val pairs = touched.select(col("src").as("__s"), col("dst").as("__d")).distinct()
          // unbounded batch pair set: AQE-decided join, no forced broadcast
          val over = base.join(pairs,
            col("src") === col("__s") && col("dst") === col("__d"), "left_semi")
            .groupBy(col("src"), col("dst")).count().filter(col("count") > 1)
          firstId(over).map(k => s"SIMPLE multiplicity of '$lbl' violated at src=$k")
        } else None
        Seq(out, in, simple).flatten
      }
    }
    unique ++ mult
  }

  /** Edge UPDATE with ConsistencyModifier.FORK semantics (reference:
    * tc/graphdb/relations/CacheEdge.java:75-85 — modifying an edge whose
    * label is FORK deletes the stored edge and writes a NEW edge with a
    * fresh id carrying the updated values, avoiding concurrent write
    * conflicts; DEFAULT/LOCK labels update in place under the same id).
    *
    * `updates` carries full edge rows keyed by the EXISTING edge id. Fresh
    * ids for forked rows are `max(existing id) + row_number() over the
    * batch` — deterministic, and the single-partition window spans only the
    * mutation batch (bounded, human-scale), never the graph.
    *
    * Updates run through the same mutation-time enforcement as adds/deletes
    * (static adjacency, scoped unique/multiplicity re-checks) — an update
    * that retargets an edge onto a static vertex or past a multiplicity
    * bound is rejected like the equivalent add would be. */
  def updateEdges(g: PropertyGraph, updates: DataFrame,
      enforce: Boolean = true): PropertyGraph = {
    import org.apache.spark.sql.expressions.Window
    val forkLabels = g.schema.edgeLabels.values
      .filter(_.consistency == ConsistencyModifier.FORK).map(_.name).toSeq
    val isFork =
      if (forkLabels.isEmpty) lit(false) else col("label").isin(forkLabels: _*)
    val inPlace = updates.filter(!isFork)
    val forked = updates.filter(isFork)
    val maxId = g.edges.agg(max(col("id")).as("__maxid"))
    val forkedFresh = forked
      .withColumn("__rn", row_number().over(Window.orderBy(col("id"))))
      .crossJoin(broadcast(maxId))
      .withColumn("id", (col("__maxid") + col("__rn")).cast("long"))
      .drop("__rn", "__maxid")
    applyMutations(g,
      addEdges = Some(inPlace.unionByName(forkedFresh)),
      deleteEdgeIds = Some(forked.select(col("id"))),
      enforce = enforce)
  }

  /** TTL compaction: physically remove catalog-expired elements (the batch
    * analogue of the storage backend's cell-TTL compaction the reference
    * relies on — docs/advschema.txt:20-70). Read-time views already hide
    * expired elements (ImplicitKeys.ttlAutoFilter); compaction reclaims the
    * storage and keeps plans from re-filtering history forever. Expired
    * vertices cascade to their incident edges (the adjacency row dies with
    * the vertex). Pure column filters + two anti-joins — no shuffle beyond
    * what the joins need, safe at any scale. */
  def compactExpired(g: PropertyGraph): PropertyGraph = {
    import graft.expr.ImplicitKeys
    val now = ImplicitKeys.ttlNow(g.schema)
    val v =
      if (g.schema.hasVertexTtl && g.vertices.columns.contains(ImplicitKeys.TimestampColumn))
        g.vertices.filter(ImplicitKeys.ttlCatalogFilter(g.schema, g.vertices, isVertex = true, now))
      else g.vertices
    val e0 =
      if (g.schema.hasEdgeTtl && g.edges.columns.contains(ImplicitKeys.TimestampColumn))
        g.edges.filter(ImplicitKeys.ttlCatalogFilter(g.schema, g.edges, isVertex = false, now))
      else g.edges
    // cascade: if any vertex label declares TTL, edges incident to a removed
    // vertex go with it (semi-join against the surviving vertex set)
    val e =
      if (g.schema.hasVertexTtl && g.vertices.columns.contains(ImplicitKeys.TimestampColumn)) {
        val ids = v.select(col("id").as("__vid"))
        e0.join(ids, col("src") === col("__vid"), "left_semi")
          .join(ids.withColumnRenamed("__vid", "__vid2"), col("dst") === col("__vid2"), "left_semi")
      } else e0
    refreshIndexTables(g.copy(vertices = v, edges = e))
  }

  /** SNAPSHOT DIFF — reconcile two versions of a graph (yesterday's store
    * vs today's, a replica vs its source, pre- vs post-migration): one row
    * per element that differs, (kind 'v'|'e', change 'added'|'removed'|
    * 'changed', id, label). 'changed' means the element exists on both
    * sides but some shared property column (or the label) differs;
    * unchanged elements emit nothing, so the output is delta-sized. The
    * batch complement of [[graft.stream.ChangeStream]]'s CDC feed — the
    * reference exposes change sets per transaction
    * (tc/core/log/ChangeProcessor.java); the diff recovers one when no log
    * was kept. Columns present on only one side are ignored for the
    * 'changed' test (schema evolution is not a per-element change).
    *
    * Scale: two full-outer equi-joins keyed by element id (the natural
    * even key), comparing ONE canonical JSON string per side built from
    * the sorted shared columns — null-aware, no per-column join
    * explosion; filters drop unchanged rows before anything else. */
  def diff(before: PropertyGraph, after: PropertyGraph): DataFrame = {
    def side(df: DataFrame, other: DataFrame, drop: Set[String]): DataFrame = {
      val shared = (df.columns.toSet intersect other.columns.toSet)
        .diff(drop).toSeq.sorted
      df.select(col("id"), col("label"),
        to_json(struct(shared.map(col): _*)).as("sig"))
    }
    def half(kind: String, b: DataFrame, a: DataFrame, drop: Set[String]): DataFrame = {
      val bs = side(b, a, drop).select(col("id"), col("label").as("b_label"),
        col("sig").as("b_sig"))
      val as_ = side(a, b, drop).select(col("id"), col("label").as("a_label"),
        col("sig").as("a_sig"))
      bs.join(as_, Seq("id"), "full_outer")
        .select(lit(kind).as("kind"),
          when(col("b_sig").isNull, "added")
            .when(col("a_sig").isNull, "removed")
            .when(!(col("a_sig") <=> col("b_sig")), "changed").as("change"),
          col("id"), coalesce(col("a_label"), col("b_label")).as("label"))
        .filter(col("change").isNotNull)
    }
    // edge endpoints participate in the signature: an edge id rewired to
    // different vertices IS a change
    half("v", before.vertices, after.vertices, Set("id"))
      .unionAll(half("e", before.edges, after.edges, Set("id")))
  }
}
