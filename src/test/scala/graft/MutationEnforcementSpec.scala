package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.data.{GraphIO, PropertyGraph, TpchGraph}

/** Mutation-time schema enforcement: static-label immutability
  * (VertexLabelMaker.setStatic, docs/advschema.txt:9-18) and scoped
  * unique-index / multiplicity re-checks at batch commit, plus catalog-TTL
  * auto-reads (docs/advschema.txt:20-70). */
class MutationEnforcementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"
  val T: Long = 1L << GraphIds.TagBits

  private def staticRegionGraph: PropertyGraph = {
    val g = TpchGraph.load(spark, dir)
    g.copy(schema = g.schema.copy(vertexLabels = g.schema.vertexLabels +
      ("region" -> VertexLabelDef("region", static = true))))
  }

  test("updating an existing static-label vertex is rejected") {
    val g = staticRegionGraph
    val upd = spark.range(1).select(lit(TpchGraph.RegionTag * T + 0L).as("id"),
      lit("region").as("label"), lit(0L).as("uid"), lit("RENAMED").as("name"))
    val ex = intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, addVertices = Some(upd))
    }
    assert(ex.getMessage.contains("static-label"))
  }

  test("deleting a static-label vertex is rejected; creating a new one is allowed") {
    val g = staticRegionGraph
    val del = spark.range(1).select(lit(TpchGraph.RegionTag * T + 1L).as("id"))
    intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, deleteVertexIds = Some(del))
    }
    val fresh = spark.range(1).select(lit(TpchGraph.RegionTag * T + 77L).as("id"),
      lit("region").as("label"), lit(77L).as("uid"), lit("NEW").as("name"))
    val m = GraphIO.applyMutations(g, addVertices = Some(fresh))
    assert(m.vertices.filter(col("label") === "region").count() === 6)
  }

  test("adding an edge incident to a static-label vertex is rejected") {
    val g = staticRegionGraph
    val e = spark.range(1).select(lit(999999999L).as("id"),
      lit(TpchGraph.NationTag * T + 0L).as("src"),
      lit(TpchGraph.RegionTag * T + 0L).as("dst"), lit("in_region").as("label"))
    val ex = intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, addEdges = Some(e))
    }
    assert(ex.getMessage.contains("edge added incident to"))
  }

  test("MANY2ONE multiplicity violation on the added set is rejected") {
    val g = TpchGraph.load(spark, dir)
    // nation 0 already has an in_region edge; a second one breaks outLimit=1
    val e = spark.range(1).select(lit(999999998L).as("id"),
      lit(TpchGraph.NationTag * T + 0L).as("src"),
      lit(TpchGraph.RegionTag * T + 1L).as("dst"), lit("in_region").as("label"))
    val ex = intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, addEdges = Some(e))
    }
    assert(ex.getMessage.contains("multiplicity"))
  }

  test("unique-index violation on the added set is rejected") {
    val g0 = TpchGraph.load(spark, dir)
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes +
      ("uniqName" -> IndexDef("uniqName", ElementCategory.VERTEX, Seq("name"),
        unique = true, onlyLabel = Some("region")))))
    // a SECOND region named like an existing one (fresh id → passes static/merge)
    val existingName = g.vertices.filter(col("label") === "region")
      .select(col("name")).limit(1).collect()(0).getString(0)
    val dup = spark.range(1).select(lit(TpchGraph.RegionTag * T + 88L).as("id"),
      lit("region").as("label"), lit(88L).as("uid"), lit(existingName).as("name"))
    val ex = intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, addVertices = Some(dup))
    }
    assert(ex.getMessage.contains("unique index 'uniqName'"))
  }

  test("catalog TTL: ingest stamps _ts and a plain V() scan hides expired elements") {
    val schema = GraphSchema(
      vertexLabels = Map("ev" -> VertexLabelDef("ev", ttlSeconds = Some(3600L))),
      ttlReadTime = Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-01T12:00:00Z"))))
    def ts(s: String) = to_timestamp(lit(s))
    val v = spark.range(2).select((col("id") + 1000L).as("id"), lit("ev").as("label"),
      when(col("id") === 0, ts("2024-06-01 11:30:00"))
        .otherwise(ts("2024-06-01 09:00:00")).as("_ts"))
    val empty = v.limit(0).select(col("id"), col("id").as("src"),
      col("id").as("dst"), col("label"))
    val g = PropertyGraph(schema, v, empty)
    // fresh element survives, 3h-old one is expired from the plain scan
    assert(g.V().dataframe.count() === 1)
    assert(g.traversal.V().toDF.count() === 1)
    // rows with no _ts provenance never expire
    val g2 = PropertyGraph(schema, v.withColumn("_ts", lit(null).cast("timestamp")), empty)
    assert(g2.V().dataframe.count() === 2)
    // ingest stamping: added rows get _ts = ttlReadTime when absent
    val add = spark.range(1).select(lit(3000L).as("id"), lit("ev").as("label"))
    val m = GraphIO.applyMutations(g, addVertices = Some(add))
    val stamped = m.vertices.filter(col("id") === 3000L).select(col("_ts")).collect()(0)
    assert(!stamped.isNullAt(0))
  }

  test("mutations refresh composite AND mixed index tables (no stale reads)") {
    val g0 = TpchGraph.load(spark, dir)
    val ixC = IndexDef("byNameT", ElementCategory.VERTEX, Seq("name"))
    val ixM = IndexDef("nameTok", ElementCategory.VERTEX, Seq("name"),
      composite = false, mappings = Map("name" -> Mapping.TEXT))
    val g = g0.copy(schema = g0.schema.copy(indexes =
        g0.schema.indexes ++ Map("byNameT" -> ixC, "nameTok" -> ixM)))
      .withIndexTable("byNameT", graft.index.Indexes.materialize(g0, ixC))
      .withIndexTable("nameTok", graft.index.Indexes.materializeMixed(g0, ixM))
    val newId = TpchGraph.RegionTag * T + 99L
    val add = spark.range(1).select(lit(newId).as("id"),
      lit("region").as("label"), lit(99L).as("uid"), lit("ATLANTIS").as("name"))
    val m = GraphIO.applyMutations(g, addVertices = Some(add))
    // composite table re-derived: the index-accelerated path sees the new row
    assert(m.indexTables.contains("byNameT"))
    val hit = m.V().has("name", "ATLANTIS").dataframe.select("id").collect()
    assert(hit.length === 1 && hit(0).getLong(0) === newId)
    // mixed token table re-derived from its layout: still registered, and the
    // index-accelerated textContains path sees the NEW row (never stale)
    assert(m.indexTables.contains("nameTok"))
    assert(m.indexTables("nameTok").filter(col("token") === "atlantis").count() === 1)
    assert(m.V().has("name", graft.expr.P.textContains("atlantis"))
      .dataframe.count() === 1)
    // an unrecognizable layout (legacy geo cells without the recorded
    // parameters, or anything else unknown) must DROP, never serve stale
    val geoish = g0.vertices.limit(1).select(lit(0).as("cell_lat"),
      lit(0).as("cell_lon"), col("id"))
    val g2 = g.withIndexTable("nameTok", geoish)
    val m2 = GraphIO.applyMutations(g2, addVertices = Some(add))
    assert(!m2.indexTables.contains("nameTok"))
  }

  test("mutations refresh SELF-DESCRIBING geo grid tables (key + cell size recorded)") {
    val g0 = TpchGraph.load(spark, dir)
    // give suppliers a point column and geo-index it at a 2-degree grid
    val pt = graft.expr.Geo.pointCol(col("uid").cast("double") % 50.0,
      col("uid").cast("double") % 120.0)
    val withLoc = g0.copy(vertices = g0.vertices.withColumn("loc",
      when(col("label") === "supplier", pt)))
    val ix = IndexDef("supLoc", ElementCategory.VERTEX, Seq("loc"),
      composite = false, onlyLabel = Some("supplier"))
    val g = withLoc.copy(schema = withLoc.schema.copy(indexes =
        withLoc.schema.indexes + ("supLoc" -> ix)))
      .withIndexTable("supLoc", graft.index.Indexes.materializeGeo(withLoc, ix,
        col("loc"), cellDeg = 2.0))
    val add = spark.range(1).select(lit(TpchGraph.SupplierTag * T + 9999L).as("id"),
      lit("supplier").as("label"), lit(9999L).as("uid"),
      graft.expr.Geo.point(49.0, 39.0).as("loc"))
    val m = GraphIO.applyMutations(g, addVertices = Some(add))
    // still registered after the mutation, re-derived at the SAME cell size,
    // and the new row is in it (9999 % 50 = 49, 9999 % 120 = 39 -> cells 24, 19)
    assert(m.indexTables.contains("supLoc"))
    val row = m.indexTables("supLoc")
      .filter(col("id") === (TpchGraph.SupplierTag * T + 9999L)).collect()
    assert(row.length === 1)
    assert(row(0).getAs[Double]("cell_deg") === 2.0)
    assert(row(0).getAs[Int]("cell_lat") === 24 && row(0).getAs[Int]("cell_lon") === 19)
  }

  test("mutations refresh temporal index tables (key, tsvalue, id)") {
    val g0 = TpchGraph.load(spark, dir)
    val day = 86400L
    val withTs = g0.copy(vertices = g0.vertices.withColumn("seen",
      when(col("label") === "supplier", timestamp_seconds(col("uid") * day))))
    val ix = IndexDef("supSeen", ElementCategory.VERTEX, Seq("seen"),
      composite = false, onlyLabel = Some("supplier"))
    val g = withTs.copy(schema = withTs.schema.copy(indexes =
        withTs.schema.indexes + ("supSeen" -> ix)))
      .withIndexTable("supSeen", graft.index.Indexes.materializeTemporal(withTs, ix, Seq("seen")))
    val newId = TpchGraph.SupplierTag * T + 9999L
    val add = spark.range(1).select(lit(newId).as("id"), lit("supplier").as("label"),
      lit(9999L).as("uid"), timestamp_seconds(lit(9999L * day)).as("seen"))
    val m = GraphIO.applyMutations(g, addVertices = Some(add))
    // still registered in its own layout, and the range lookup sees the new row
    assert(m.indexTables.contains("supSeen"))
    assert(m.indexTables("supSeen").columns.toSet === Set("key", "tsvalue", "id"))
    val hit = graft.index.Indexes.lookupTemporalRange(m, m.indexTables("supSeen"), "seen",
      timestamp_seconds(lit(9999L * day)), timestamp_seconds(lit(10000L * day)))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(hit === Seq(newId))
  }

  test("vertex-delete cascade cannot touch a static vertex's adjacency") {
    val g = staticRegionGraph
    // deleting nation 0 would cascade-remove its in_region edge — that edge
    // is part of static region 0's adjacency, so the batch must be rejected
    // exactly like an explicit delete of the same edge
    val del = spark.range(1).select(lit(TpchGraph.NationTag * T + 0L).as("id"))
    val ex = intercept[IllegalArgumentException] {
      GraphIO.applyMutations(g, deleteVertexIds = Some(del))
    }
    assert(ex.getMessage.contains("cascaded edge removal incident to"))
  }

  test("FORK edge label: update forks a fresh id; DEFAULT label updates in place") {
    val g0 = TpchGraph.load(spark, dir)
    val g = g0.copy(schema = g0.schema.copy(edgeLabels = g0.schema.edgeLabels +
      ("in_region" -> EdgeLabelDef("in_region",
        consistency = ConsistencyModifier.FORK))))
    val maxBefore = g.edges.agg(max(col("id"))).collect()(0).getLong(0)
    // one FORK-label edge (nation 0 → its region) and one DEFAULT-label edge
    val fork = g.edges.filter(col("label") === "in_region" &&
      col("src") === TpchGraph.NationTag * T + 0L)
    val forkOldId = fork.select(col("id")).collect()(0).getLong(0)
    val inPlace = g.edges.filter(col("label") === "placed").limit(1)
    val inPlaceId = inPlace.select(col("id")).collect()(0).getLong(0)
    val m = GraphIO.updateEdges(g, fork.unionByName(inPlace))
    // edge count unchanged (delete + re-add)
    assert(m.edges.count() === g.edges.count())
    // FORK: the old id is gone, exactly one fresh id above the old max
    assert(m.edges.filter(col("id") === forkOldId).count() === 0)
    assert(m.edges.filter(col("id") > maxBefore).count() === 1)
    // DEFAULT: same id survives
    assert(m.edges.filter(col("id") === inPlaceId).count() === 1)
  }

  test("write-path schema maker: default auto-creates, none rejects, conflicts throw") {
    val g = TpchGraph.load(spark, dir)
    // a mutation batch carrying an UNDECLARED property key 'vip'
    val add = spark.range(1).select(lit(TpchGraph.RegionTag * T + 55L).as("id"),
      lit("region").as("label"), lit(55L).as("uid"), lit("MU").as("name"),
      lit(true).as("vip"))
    // schema.default unset (= default): the maker auto-creates the key inside
    // the write and the result graph can query through it
    assert(!g.schema.propertyKeys.contains("vip"))
    val m = GraphIO.applyMutations(g, addVertices = Some(add))
    assert(m.schema.propertyKeys.contains("vip"))
    assert(m.V().has("vip", true).dataframe.count() === 1)
    // schema.default=none (DisableDefaultSchemaMaker): the SAME batch throws
    spark.conf.set(graft.mgmt.DefaultSchemaMaker.ConfKey, "none")
    try {
      val ex = intercept[IllegalArgumentException] {
        GraphIO.applyMutations(g, addVertices = Some(add))
      }
      assert(ex.getMessage.contains("vip"))
      // strict mode still allows batches with only declared types
      val ok = spark.range(1).select(lit(TpchGraph.RegionTag * T + 56L).as("id"),
        lit("region").as("label"), lit(56L).as("uid"), lit("NU").as("name"))
      GraphIO.applyMutations(g, addVertices = Some(ok))
      // unknown maker names are rejected, not silently permissive
      spark.conf.set(graft.mgmt.DefaultSchemaMaker.ConfKey, "bogus")
      intercept[IllegalArgumentException] {
        GraphIO.applyMutations(g, addVertices = Some(ok))
      }
    } finally spark.conf.unset(graft.mgmt.DefaultSchemaMaker.ConfKey)
    // conflicting types for the same auto-created key across frames: rejected
    // (property key types are immutable once created — no silent first-wins)
    val av = spark.range(1).select(lit(1L).as("id"), lit("a").as("label"),
      lit(1L).as("flag"))
    val ae = av.limit(0).select(col("id"), col("id").as("src"),
      col("id").as("dst"), col("label"), lit("x").as("flag"))
    val ex2 = intercept[IllegalArgumentException] {
      graft.mgmt.DefaultSchemaMaker.complete(GraphSchema(), av, ae)
    }
    assert(ex2.getMessage.contains("conflicting types") && ex2.getMessage.contains("flag"))
  }

  test("compactExpired physically removes expired vertices and cascades their edges") {
    val schema = GraphSchema(
      vertexLabels = Map("ev" -> VertexLabelDef("ev", ttlSeconds = Some(3600L))),
      ttlReadTime = Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-01T12:00:00Z"))))
    def ts(s: String) = to_timestamp(lit(s))
    val v = spark.range(2).select((col("id") + 1000L).as("id"), lit("ev").as("label"),
      when(col("id") === 0, ts("2024-06-01 11:30:00"))
        .otherwise(ts("2024-06-01 09:00:00")).as("_ts"))
    // one edge between the fresh (1000) and expired (1001) vertex
    val e = spark.range(1).select(lit(1L).as("id"), lit(1000L).as("src"),
      lit(1001L).as("dst"), lit("rel").as("label"))
    val m = GraphIO.compactExpired(PropertyGraph(schema, v, e))
    // the RAW frames (no read-time filter) prove physical removal
    assert(m.vertices.count() === 1)
    assert(m.vertices.select(col("id")).collect()(0).getLong(0) === 1000L)
    assert(m.edges.count() === 0) // cascaded with the expired endpoint
  }

  // ---------- Gremlin mutation steps (DropStep / AddEdgeStep) ----------

  test("drop() on a vertex frontier removes the vertices and cascades incident edges") {
    val g = TpchGraph.load(spark, dir)
    val buildingOrders = g.traversal.V().hasLabel("customer")
      .has("mktsegment", "BUILDING").out("placed").toDF.count()
    val placedBefore = g.edges.filter(col("label") === "placed").count()
    val m = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING").drop().graph
    assert(m.vertices.filter(col("label") === "customer" &&
      col("mktsegment") === "BUILDING").count() === 0)
    assert(m.vertices.filter(col("label") === "order").count() ===
      g.vertices.filter(col("label") === "order").count()) // orders survive
    assert(m.edges.filter(col("label") === "placed").count() ===
      placedBefore - buildingOrders) // adjacency cascaded
  }

  test("drop() on an edge frontier removes exactly those edges, no vertices") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.E().hasLabel("in_region").drop().graph
    assert(m.edges.filter(col("label") === "in_region").count() === 0)
    assert(m.edges.count() === g.edges.count() -
      g.edges.filter(col("label") === "in_region").count())
    assert(m.vertices.count() === g.vertices.count())
  }

  test("addE: deterministic reserved-tag ids, auto-created label, replay-idempotent") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.V().hasLabel("customer").as("c").out("placed")
      .addE("placed_by", "c").graph
    val nb = m.edges.filter(col("label") === "placed_by")
    assert(nb.count() === g.edges.filter(col("label") === "placed").count())
    // synthesized ids live in the reserved top-tag namespace
    assert(nb.filter(col("id") < lit(127L << GraphIds.TagBits)).count() === 0)
    // the undeclared edge label auto-created through the first-use maker
    assert(m.schema.edgeLabels.contains("placed_by"))
    // deterministic ids make a replay a no-op (last-writer-wins by id)
    val m2 = m.traversal.V().hasLabel("customer").as("c").out("placed")
      .addE("placed_by", "c").graph
    assert(m2.edges.count() === m.edges.count())
  }

  test("addE with Direction.IN points the edge from the saved step to the frontier") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.V().hasLabel("region").as("r").in("in_region")
      .addE("has_nation", "r", graft.query.Direction.IN).graph
    val nb = m.edges.filter(col("label") === "has_nation")
    // region -> nation: src in the region id namespace
    assert(nb.count() === g.vertices.filter(col("label") === "nation").count())
    assert(nb.filter(col("src") < lit(TpchGraph.RegionTag * T) ||
      col("src") >= lit((TpchGraph.RegionTag + 1) * T)).count() === 0)
  }

  test("property() step: computed upsert on the frontier only; undeclared key auto-creates") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
      .property("tier", lit("vip")).graph
    assert(m.schema.propertyKeys.contains("tier")) // first-use maker ran
    val building = g.vertices.filter(col("label") === "customer" &&
      col("mktsegment") === "BUILDING").count()
    assert(m.vertices.filter(col("tier") === "vip").count() === building)
    // untouched rows read back null for the new key; totals unchanged
    assert(m.vertices.count() === g.vertices.count())
    assert(m.vertices.filter(col("tier").isNull).count() ===
      g.vertices.count() - building)
  }

  test("property() step routes through static-label enforcement") {
    val g = staticRegionGraph
    val ex = intercept[IllegalArgumentException] {
      g.traversal.V().hasLabel("region").property("name", lit("RENAMED"))
    }
    assert(ex.getMessage.contains("static-label"))
  }

  test("addE carries requested frontier property columns onto the new edges") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.V().hasLabel("customer").as("c").out("placed")
      .addE("placed_by", "c", props = Seq("orderdate")).graph
    val nb = m.edges.filter(col("label") === "placed_by")
    assert(nb.count() > 0 && nb.filter(col("orderdate").isNull).count() === 0)
  }

  test("mutation steps continue the traversal (TinkerPop emit-the-element semantics)") {
    val g = TpchGraph.load(spark, dir)
    // addE(...).inV(): frontier = created edges; dst is the saved customer
    val reached = g.traversal.V().hasLabel("customer").as("c").out("placed")
      .addE("placed_by", "c").inV().toDF
    assert(reached.filter(col("label") =!= "customer").count() === 0)
    assert(reached.count() ===
      g.edges.filter(col("label") === "placed").count()) // one per created edge
    // property(...) continues on the SAME traversers with the value visible,
    // and further hops traverse the MUTATED graph
    val t = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
      .property("tier", lit("vip"))
    assert(t.toDF.filter(col("tier") =!= "vip").count() === 0)
    val hopped = t.out("placed").toDF
    assert(hopped.filter(col("label") =!= "order").count() === 0)
    assert(t.graph.vertices.filter(col("tier") === "vip").count() === t.toDF.count())
    // addV returns a traversal positioned on the created vertices
    val segs = g.vertices.filter(col("label") === "customer")
      .select(col("mktsegment").as("name")).distinct()
      .withColumn("uid", xxhash64(col("name")))
    val tv = g.traversal.addV("segment", segs)
    assert(tv.toDF.filter(col("label") =!= "segment").count() === 0)
    assert(tv.toDF.count() === segs.count())
    // drop() continues as the remove-everything filter over the mutated graph
    val td = g.traversal.V().hasLabel("region").drop()
    assert(td.toDF.count() === 0)
    assert(td.graph.vertices.filter(col("label") === "region").count() === 0)
  }

  test("property() on an edge frontier upserts exactly those edges") {
    val g = TpchGraph.load(spark, dir)
    val m = g.traversal.E().hasLabel("in_region").property("weight", lit(2.0)).graph
    assert(m.schema.propertyKeys.contains("weight")) // first-use maker ran
    val inRegion = g.edges.filter(col("label") === "in_region").count()
    assert(m.edges.filter(col("weight") === 2.0).count() === inRegion)
    assert(m.edges.filter(col("weight").isNull).count() ===
      g.edges.count() - inRegion) // untouched edges read back null
  }

  test("mergeV: match updates, miss creates, replay is idempotent") {
    import spark.implicits._
    val v = Seq((1L, "user", "ada", 10L), (2L, "user", "bob", 20L))
      .toDF("id", "label", "name", "score")
    val g = PropertyGraph(GraphSchema(), v,
      Seq.empty[(Long, Long, Long, String)].toDF("id", "src", "dst", "label"))
    val batch = Seq(("ada", 99L), ("eve", 7L)).toDF("name", "score")
    val t1 = g.traversal.mergeV("user", batch, Seq("name"))
    // merged frontier = exactly the batch's two vertices
    assert(t1.toDF.count() === 2)
    val m1 = t1.graph
    val byName = m1.vertices.collect()
      .map(r => r.getAs[String]("name") -> (r.getAs[Long]("id"), r.getAs[Long]("score"))).toMap
    assert(byName("ada")._1 === 1L && byName("ada")._2 === 99L) // updated in place, id kept
    assert(byName("bob") === ((2L, 20L)))                      // untouched
    assert(byName("eve")._2 === 7L && byName("eve")._1 > (100L << 56)) // created, reserved tag
    // replay: same batch, same result (created ids deterministic from keys)
    val m2 = m1.traversal.mergeV("user", batch, Seq("name")).graph
    assert(m2.vertices.count() === 3)
    assert(m2.vertices.orderBy("id").collect().toSeq ===
      m1.vertices.orderBy("id").collect().toSeq)
    // new property columns flow through the first-use schema path
    val widen = Seq(("bob", "admin")).toDF("name", "role")
    val m3 = m2.traversal.mergeV("user", widen, Seq("name")).graph
    assert(m3.vertices.filter(col("name") === "bob").head.getAs[String]("role") === "admin")
    assert(m3.vertices.filter(col("name") === "ada").head.getAs[String]("role") == null)
  }

  test("mergeE: endpoint-pair match updates, miss creates; replay idempotent") {
    import spark.implicits._
    val v = Seq((1L, "u"), (2L, "u"), (3L, "u")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "knows", 1L)).toDF("id", "src", "dst", "label", "w")
    val g = PropertyGraph(GraphSchema(), v, e)
    val batch = Seq((1L, 2L, 9L), (2L, 3L, 5L)).toDF("src", "dst", "w")
    val t = g.traversal.mergeE("knows", batch)
    assert(t.toDF.count() === 2)
    val m = t.graph
    val byPair = m.edges.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) ->
        (r.getAs[Long]("id"), r.getAs[Long]("w"))).toMap
    assert(byPair((1L, 2L)) === ((10L, 9L))) // updated, id kept
    assert(byPair((2L, 3L))._2 === 5L)       // created
    val m2 = m.traversal.mergeE("knows", batch).graph
    assert(m2.edges.orderBy("id").collect().toSeq === m.edges.orderBy("id").collect().toSeq)
  }

  test("mergeV: a created id colliding with an unrelated existing vertex fails loudly") {
    import spark.implicits._
    // plant a vertex AT the id mergeV will derive for (user, name=eve) — a
    // different label, so the match-keys join cannot claim it; without the
    // guard the id-keyed upsert would silently REPLACE it
    val eveId = spark.range(1).select(
      (lit(126L << GraphIds.TagBits) +
        pmod(xxhash64(lit("user"), lit("eve")), lit(1L << GraphIds.TagBits))).as("id"))
      .head.getLong(0)
    val v = Seq((eveId, "other", "innocent")).toDF("id", "label", "name")
    val g = PropertyGraph(GraphSchema(), v,
      Seq.empty[(Long, Long, Long, String)].toDF("id", "src", "dst", "label"))
    val ex = intercept[IllegalArgumentException] {
      g.traversal.mergeV("user", Seq(("eve", 7L)).toDF("name", "score"), Seq("name"))
    }
    assert(ex.getMessage.contains("collides"))
    // same guard on the edge side: plant an edge at mergeE's derived id
    val edgeId = spark.range(1).select(
      (lit(127L << GraphIds.TagBits) +
        pmod(xxhash64(lit(2L), lit(3L), lit("knows")), lit(1L << GraphIds.TagBits))).as("id"))
      .head.getLong(0)
    val ge = PropertyGraph(GraphSchema(),
      Seq((1L, "u"), (2L, "u"), (3L, "u")).toDF("id", "label"),
      Seq((edgeId, 1L, 2L, "likes")).toDF("id", "src", "dst", "label"))
    val ex2 = intercept[IllegalArgumentException] {
      ge.traversal.mergeE("knows", Seq((2L, 3L)).toDF("src", "dst"))
    }
    assert(ex2.getMessage.contains("collides"))
  }
}
