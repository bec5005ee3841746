package graft.functions

import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression family for the geometry frontend. All expressions are
  * null-safe (`UnaryExpression.eval` short-circuits nulls) and registered in
  * the session FunctionRegistry (see [[GraftFunctions]]) so they work from
  * the Column API, SQL text, and `spark.sql(...)` alike.
  *
  * Semantics per reference file:line are documented on each expression.
  * CodegenFallback keeps them inside whole-stage-codegen'd stages as leaf
  * calls; the hot predicates (cell id, ray-cast) are branch-free scalar code.
  */
object exprs {

  /** Allocation-free even-odd ray cast straight over Catalyst ArrayData
    * (the join-refinement hot path runs once per candidate pair — never
    * build Vectors there). */
  def containsRingsData(rings: ArrayData, x: Double, y: Double): Boolean = {
    var parity = false
    var r = 0
    val nr = rings.numElements()
    while (r < nr) {
      val ring = rings.getArray(r)
      val n = ring.numElements()
      var inside = false
      var i = 0
      var j = n - 1
      while (i < n) {
        val pi = ring.getArray(i)
        val pj = ring.getArray(j)
        val xi = pi.getDouble(0); val yi = pi.getDouble(1)
        val xj = pj.getDouble(0); val yj = pj.getDouble(1)
        if ((yi > y) != (yj > y)) {
          val xCross = (xj - xi) * (y - yi) / (yj - yi) + xi
          if (x < xCross) inside = !inside
        }
        j = i
        i += 1
      }
      if (inside) parity = !parity
      r += 1
    }
    parity
  }

  /** `wkt2geojson` (reference R/wkt2geojson.R:82-94): tolerant WKT parse into
    * the geometry struct. Throws on unknown type like the reference. */
  case class StGeomFromText(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = GeomData.geometryType
    override protected def nullSafeEval(input: Any): Any =
      GeomData.toRow(WktParser.parse(input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): StGeomFromText = copy(child = c)
    override def prettyName: String = "st_geomfromtext"
  }

  /** Null-on-error variant of [[StGeomFromText]] for dirty web-scale input. */
  case class StTryGeomFromText(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = GeomData.geometryType
    override def nullable: Boolean = true
    override protected def nullSafeEval(input: Any): Any = {
      val g = WktParser.parseOrNull(input.asInstanceOf[UTF8String].toString)
      if (g == null) null else GeomData.toRow(g)
    }
    override protected def withNewChildInternal(c: Expression): StTryGeomFromText = copy(child = c)
    override def prettyName: String = "st_try_geomfromtext"
  }

  /** `geojson2wkt` writer (reference R/geojson2wkt.R:138-217). */
  case class StAsText(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType, IntegerType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(geom: Any, fmt: Any): Any =
      UTF8String.fromString(
        WktWriter.write(GeomData.fromRow(geom.asInstanceOf[InternalRow]), fmt.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StAsText =
      copy(left = l, right = r)
    override def prettyName: String = "st_astext"
  }

  /** wkx-style compact WKT (reference README.md:350-359, used by wkb_wkt). */
  case class StAsTextCompact(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(input: Any): Any =
      UTF8String.fromString(Wkb.toCompactWkt(GeomData.fromRow(input.asInstanceOf[InternalRow])))
    override protected def withNewChildInternal(c: Expression): StAsTextCompact = copy(child = c)
    override def prettyName: String = "st_astext_compact"
  }

  /** `lint` (reference R/lint.R:24-38). */
  case class StIsWkt(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(input: Any): Any =
      Lint.lint(input.asInstanceOf[UTF8String].toString)
    override protected def withNewChildInternal(c: Expression): StIsWkt = copy(child = c)
    override def prettyName: String = "st_iswkt"
  }

  /** `grepl("empty")` guard (reference R/point.R:43-47): geometry has no
    * coordinates (and no parts). */
  case class StIsEmpty(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType)
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(input: Any): Any = {
      val g = GeomData.fromRow(input.asInstanceOf[InternalRow])
      g.isEmptyGeom // GC: empty iff no parts; others: no coordinates anywhere
    }
    override protected def withNewChildInternal(c: Expression): StIsEmpty = copy(child = c)
    override def prettyName: String = "st_isempty"
  }

  /** `get_centroid` (reference R/get_centroid.R:24-36, R/zzz.R:42-66):
    * mean-of-vertices, lon first; null for GeometryCollection/empty.
    *
    * Walks the geometry struct DIRECTLY (no Geom materialization): this
    * expression runs once per row in both flagship subtrees, and the
    * nested-Vector round trip of GeomData.fromRow was its dominant
    * allocation cost. Summation order is identical to
    * [[graft.core.Centroid.centroid]] (coords in document order), so the
    * produced doubles are bit-identical — asserted by the q11/q37 oracles. */
  case class StCentroid(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType)
    override def dataType: DataType = GeomData.centroidType
    override def nullable: Boolean = true
    override protected def nullSafeEval(input: Any): Any = {
      val r = input.asInstanceOf[InternalRow]
      val tag = r.getByte(0).toInt
      if (tag == GeomType.GeometryCollection) return null // reference: NaN mean
      if (r.isNullAt(1)) return null
      val coords = r.getArray(1)
      if (tag == GeomType.Point) {
        if (coords.numElements() == 0) return null
        val rings = coords.getArray(0)
        if (rings.numElements() == 0) return null
        val ps = rings.getArray(0)
        if (ps.numElements() == 0) return null
        val p = ps.getArray(0)
        if (p.numElements() < 2) return null
        return InternalRow(p.getDouble(0), p.getDouble(1))
      }
      var sx = 0.0; var sy = 0.0; var n = 0L
      var i = 0
      while (i < coords.numElements()) {
        val poly = coords.getArray(i)
        var j = 0
        while (j < poly.numElements()) {
          val ring = poly.getArray(j)
          var k = 0
          while (k < ring.numElements()) {
            val p = ring.getArray(k)
            sx += p.getDouble(0); sy += p.getDouble(1); n += 1
            k += 1
          }
          j += 1
        }
        i += 1
      }
      if (n == 0) null else InternalRow(sx / n, sy / n)
    }
    override protected def withNewChildInternal(c: Expression): StCentroid = copy(child = c)
    override def prettyName: String = "st_centroid"
  }

  /** `wkt_wkb` (reference R/wkb.R:41-44): geometry -> little-endian WKB. */
  case class StAsWkb(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType)
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(input: Any): Any =
      Wkb.toWkb(GeomData.fromRow(input.asInstanceOf[InternalRow]))
    override protected def withNewChildInternal(c: Expression): StAsWkb = copy(child = c)
    override def prettyName: String = "st_aswkb"
  }

  /** WKB -> geometry struct (reference R/wkb.R:48-52 parse side). */
  case class StGeomFromWkb(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = GeomData.geometryType
    override protected def nullSafeEval(input: Any): Any =
      GeomData.toRow(Wkb.fromWkb(input.asInstanceOf[Array[Byte]]))
    override protected def withNewChildInternal(c: Expression): StGeomFromWkb = copy(child = c)
    override def prettyName: String = "st_geomfromwkb"
  }

  /** `wkb_wkt` (reference R/wkb.R:48-52): WKB -> compact WKT text. */
  case class StWkbToWkt(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(input: Any): Any =
      UTF8String.fromString(Wkb.toCompactWkt(Wkb.fromWkb(input.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): StWkbToWkt = copy(child = c)
    override def prettyName: String = "st_wkb_wkt"
  }

  /** `as_json(wkt2geojson(...))` (reference R/as.json.R:19-26 +
    * R/wkt2geojson.R feature/numeric flags). args: geom, feature, numeric, fmt. */
  case class StAsGeoJson(children: Seq[Expression])
      extends Expression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType, BooleanType, BooleanType, IntegerType)
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      // null-safe over EVERY argument: unboxing a null flag would silently
      // coerce it to false/0 instead of propagating null like the rest of
      // the st_* family
      val vals = children.map(_.eval(input))
      if (vals.exists(_ == null)) return null
      val Seq(g, feature, numeric, fmt) = vals
      UTF8String.fromString(
        GeoJson.toJson(GeomData.fromRow(g.asInstanceOf[InternalRow]),
          feature.asInstanceOf[Boolean], numeric.asInstanceOf[Boolean],
          fmt.asInstanceOf[Int]))
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): StAsGeoJson =
      copy(children = cs)
    override def prettyName: String = "st_asgeojson"
  }

  /** `geojson2wkt.character` JSON input path (reference R/geojson2wkt.R:129-136). */
  case class StGeomFromGeoJson(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = GeomData.geometryType
    override protected def nullSafeEval(input: Any): Any =
      GeomData.toRow(GeoJson.parse(input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): StGeomFromGeoJson = copy(child = c)
    override def prettyName: String = "st_geomfromgeojson"
  }

  /** `properties(x, style, popup)` (reference R/properties.R:12-22). */
  case class StProperties(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType, StringType, StringType)
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val f = first.eval(input)
      if (f == null) return null
      val s = second.eval(input)
      val p = third.eval(input)
      UTF8String.fromString(GeoJson.withProperties(
        f.asInstanceOf[UTF8String].toString,
        if (s == null) null else s.asInstanceOf[UTF8String].toString,
        if (p == null) null else p.asInstanceOf[UTF8String].toString))
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StProperties =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_properties"
  }

  /** `as_featurecollection` (reference R/as_featurecollection.R:13-18). */
  case class StAsFeatureCollection(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(input: Any): Any =
      UTF8String.fromString(GeoJson.asFeatureCollection(input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): StAsFeatureCollection = copy(child = c)
    override def prettyName: String = "st_as_featurecollection"
  }

  /** `wktview` analog (reference R/wktview.R:31-57): WKT -> self-contained
    * leaflet HTML document string (see [[graft.core.WktView]]). */
  case class StWktView(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType, IntegerType)
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override protected def nullSafeEval(wkt: Any, zoom: Any): Any = {
      // junk WKT still throws (the reference's not_some error contract,
      // FunctionsSpec), but an EMPTY geometry has no view center and
      // follows st_centroid's null contract instead of killing the task
      val h = WktView.html(
        WktParser.parse(wkt.asInstanceOf[UTF8String].toString), zoom.asInstanceOf[Int])
      if (h == null) null else UTF8String.fromString(h)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StWktView =
      copy(left = l, right = r)
    override def prettyName: String = "st_wktview"
  }

  // ---------- constructor family (reference R/point.R etc.) ----------

  /** Direct struct Point from lon/lat columns (engine building block). */
  case class StPoint(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType)
    override def dataType: DataType = GeomData.geometryType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeomData.toRow(Geom.point(Vector(x.asInstanceOf[Double], y.asInstanceOf[Double])))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StPoint =
      copy(left = l, right = r)
    override def prettyName: String = "st_point"
  }

  /** `point.data.frame` row-vectorized constructor (reference R/point.R:59-72). */
  case class StPointWkt(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(x: Any, y: Any, fmt: Any): Any =
      UTF8String.fromString(WktWriter.pointWkt(
        Seq(x.asInstanceOf[Double], y.asInstanceOf[Double]), fmt.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StPointWkt =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_point_wkt"
  }

  /** Generic array-input constructor: rank decides which writer runs.
    * kind: 1=multipoint(rank2) 2=linestring(rank2) 3=polygon(rank3)
    *       4=multilinestring(rank3) 5=multipolygon(rank4) 6=circularstring(rank2). */
  case class StConstructWkt(left: Expression, right: Expression, kind: Int)
      extends BinaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = {
      val rank2 = ArrayType(ArrayType(DoubleType))
      val arrT = kind match {
        case 1 | 2 | 6 => rank2
        case 3 | 4     => ArrayType(rank2)
        case _         => ArrayType(ArrayType(rank2))
      }
      Seq(arrT, IntegerType)
    }
    override def dataType: DataType = StringType
    override protected def nullSafeEval(arr: Any, fmtAny: Any): Any = {
      val a = arr.asInstanceOf[ArrayData]
      val fmt = fmtAny.asInstanceOf[Int]
      val s = kind match {
        case 1 => WktWriter.multiPointWkt(GeomData.readRank2(a), fmt)
        case 2 => WktWriter.lineStringWkt(GeomData.readRank2(a), fmt)
        case 3 => WktWriter.polygonWkt(GeomData.readRank3(a), fmt)
        case 4 => WktWriter.multiLineStringWkt(GeomData.readRank3(a), fmt)
        case 5 => WktWriter.multiPolygonWkt(GeomData.readRank4(a), fmt)
        case 6 => WktWriter.circularStringWkt(GeomData.readRank2(a), fmt)
        case other => throw new IllegalArgumentException(s"bad constructor kind $other")
      }
      UTF8String.fromString(s)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StConstructWkt =
      copy(left = l, right = r)
    override def prettyName: String = "st_construct_wkt"
  }

  /** `geometrycollection(...)` from already-formed WKTs (reference
    * R/geometrycollection.R:37-49, lint-validating). */
  case class StCollectWkt(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = StringType
    override protected def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val wkts = (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      UTF8String.fromString(WktWriter.geometryCollectionWkt(wkts))
    }
    override protected def withNewChildInternal(c: Expression): StCollectWkt = copy(child = c)
    override def prettyName: String = "st_collect_wkt"
  }

  // ---------- spatial index / join support ----------

  /** Cell id of a lon/lat at a level (packed Long; graft.core.CellIndex). */
  case class StCellId(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(lon: Any, lat: Any, level: Any): Any =
      CellIndex.cell(lon.asInstanceOf[Double], lat.asInstanceOf[Double], level.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (lon, lat, lvl) =>
        s"graft.core.CellIndex.cell($lon, $lat, $lvl)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StCellId =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_cellid"
  }

  /** Ancestor chain of a point's cell: levels 0..maxLevel (point side of the
    * disjoint-cover equijoin — at most ONE ancestor hits a polygon cover). */
  case class StCellAncestors(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(lon: Any, lat: Any, level: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(CellIndex.ancestors(
        lon.asInstanceOf[Double], lat.asInstanceOf[Double], level.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StCellAncestors =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_cell_ancestors"
  }

  /** Batched disjoint quadtree covering of a polygon geometry
    * (north_star: "batched covering algorithm"); array<struct<cell,full>>. */
  case class StCover(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType, IntegerType)
    override def dataType: DataType = GeomData.coverType
    override protected def nullSafeEval(geom: Any, level: Any): Any = {
      val g = GeomData.fromRow(geom.asInstanceOf[InternalRow])
      val cov = CellIndex.cover(g, level.asInstanceOf[Int])
      new GenericArrayData(cov.map(c => InternalRow(c.cell, c.full)).toArray[Any])
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StCover =
      copy(left = l, right = r)
    override def prettyName: String = "st_cover"
  }

  /** Exact even-odd ray-cast point-in-polygon over a geometry's rings. */
  case class StContains(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType, DoubleType, DoubleType)
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(geom: Any, x: Any, y: Any): Any =
      RayCast.contains(GeomData.fromRow(geom.asInstanceOf[InternalRow]),
        x.asInstanceOf[Double], y.asInstanceOf[Double])
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StContains =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_contains"
  }

  /** Ray-cast against a raw rank-3 rings array (post-join refinement hot
    * path: rings live as a plain column, no struct rebuild). */
  case class StContainsRings(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(ArrayType(ArrayType(ArrayType(DoubleType))), DoubleType, DoubleType)
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(rings: Any, x: Any, y: Any): Any =
      exprs.containsRingsData(rings.asInstanceOf[ArrayData],
        x.asInstanceOf[Double], y.asInstanceOf[Double])
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StContainsRings =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "st_contains_rings"
  }

  /** Probe of a broadcast [[graft.core.CoverTable]]: walks the point's
    * `level + 1` ancestor cells against the table, ray-casts boundary
    * entries inline and emits only hits. `counting = false` emits one
    * `poly_idx` row per matching polygon; `counting = true` emits one
    * `n_matches` row per point with at least one match. A generator, so it
    * runs exactly once per point: a probe UDF under a filter would be
    * evaluated again wherever the optimizer pushes the filter. Not in the
    * SQL registry, because the table is not a column. */
  case class StCoverProbe(children: Seq[Expression], table: Broadcast[CoverTable],
                          level: Int, counting: Boolean)
      extends Generator with CodegenFallback with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType)
    override def elementSchema: StructType =
      if (counting) new StructType().add("n_matches", LongType, nullable = false)
      else new StructType().add("poly_idx", IntegerType, nullable = false)
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val x = children(0).eval(input)
      val y = children(1).eval(input)
      if (x == null || y == null) return Nil
      if (counting) {
        val n = local.count(x.asInstanceOf[Double], y.asInstanceOf[Double], level)
        if (n == 0) Nil else InternalRow(n.toLong) :: Nil
      } else {
        var out: List[InternalRow] = Nil
        local.probe(x.asInstanceOf[Double], y.asInstanceOf[Double], level)(p =>
          out = InternalRow(p) :: out)
        out
      }
    }
    // read once per deserialized expression, not once per row
    @transient private lazy val local: CoverTable = table.value
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): StCoverProbe =
      copy(children = cs)
    override def prettyName: String = "st_cover_probe"
    // the table prints as its broadcast id, never its contents
    override protected def stringArgs: Iterator[Any] = Iterator(children, level,
      if (counting) "n_matches" else "poly_idx", s"broadcast ${table.id}")
  }

  /** Rings of a polygonal geometry as a plain rank-3 array column. */
  case class StRings(child: Expression)
      extends UnaryExpression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(GeomData.geometryType)
    override def dataType: DataType = ArrayType(ArrayType(ArrayType(DoubleType, containsNull = false)))
    override protected def nullSafeEval(input: Any): Any = {
      val rings = GeomData.fromRow(input.asInstanceOf[InternalRow]).polygonRings
      new GenericArrayData(rings.map { r =>
        new GenericArrayData(r.map(p =>
          UnsafeArrayData.fromPrimitiveArray(p.toArray): Any).toArray): Any
      }.toArray)
    }
    override protected def withNewChildInternal(c: Expression): StRings = copy(child = c)
    override def prettyName: String = "st_rings"
  }

  /** Cells of the square k-ring at Chebyshev distance r (kNN expansion). */
  case class StRingCells(children: Seq[Expression])
      extends Expression with CodegenFallback
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, DoubleType, IntegerType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      UnsafeArrayData.fromPrimitiveArray(CellIndex.ring(
        vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int]))
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): StRingCells =
      copy(children = cs)
    override def prettyName: String = "st_ring_cells"
  }

  /** Web-Mercator tile X / Y at zoom z. */
  case class StTileX(left: Expression, right: Expression)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, IntegerType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(lon: Any, z: Any): Any =
      TileMath.tileX(lon.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (lon, z) => s"graft.core.TileMath.tileX($lon, $z)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StTileX =
      copy(left = l, right = r)
    override def prettyName: String = "st_tile_x"
  }

  case class StTileY(left: Expression, right: Expression)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes = Seq(DoubleType, IntegerType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(lat: Any, z: Any): Any =
      TileMath.tileY(lat.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (lat, z) => s"graft.core.TileMath.tileY($lat, $z)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StTileY =
      copy(left = l, right = r)
    override def prettyName: String = "st_tile_y"
  }
}
