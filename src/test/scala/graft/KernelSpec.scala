package graft

import graft.core.SortedLongs
import graft.functions.GraftFunctions._
import graft.functions.textexprs
import org.apache.spark.sql.functions._

/** Property-style regression guards for the round-4 kernels, each checked
  * against an independent straight-line Scala model over seeded random
  * inputs — the kernels sit under oracle queries (q41/q52), so a silent
  * divergence would surface as a hard-to-debug hash mismatch; these pin it
  * at the unit level first. */
class KernelSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(31)

  private def randomText(maxLen: Int): String = {
    val alphabet = "abcdefg hij"
    val len = rnd.nextInt(maxLen + 1)
    (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("cover table probe == brute-force ray cast, root cell 0L included") {
    import graft.core.{CoverTable, RayCast}
    val layer = AdversarialLayer
    for (level <- Seq(0, 3, 9, 12)) {
      val polys = layer.geoms.map(layer.tablePolygon(_, level)).toIndexedSeq
      // the world polygon's cover is the full root cell at every level; at
      // level 0 every other polygon adds the root cell as a boundary cell
      assert(polys.last.cells.sameElements(Array(0L)), s"level $level")
      val table = CoverTable.build(polys)
      layer.points.foreach { case (x, y) =>
        val want = layer.geoms.indices.filter(i => RayCast.contains(layer.geoms(i), x, y))
        val got = Seq.newBuilder[Int]
        table.probe(x, y, level)(got += _)
        assert(got.result().sorted == want, s"level $level point ($x, $y)")
        assert(table.count(x, y, level) == want.size)
      }
    }
    // null geometries match nothing; an empty layer builds and probes
    val nulls = CoverTable.build(IndexedSeq(CoverTable.Polygon(null, null, null)))
    assert(nulls.count(1.0, 1.0, 10) == 0)
    assert(CoverTable.build(IndexedSeq.empty).count(1.0, 1.0, 10) == 0)
  }

  test("ngram_hash_set == sorted distinct portableHash60 over char n-grams") {
    def naive(s: String, n: Int): Seq[Long] = {
      val grams =
        if (s.length <= n) Seq(s)
        else (0 to s.length - n).map(i => s.substring(i, i + n))
      grams.map(textexprs.portableHash60).distinct.sorted
    }
    for (n <- Seq(1, 3, 8, 16)) {
      val texts = Seq.fill(60)(randomText(40)) :+ "" :+ "x" :+ ("y" * n)
      val got = texts.toDF("t").select(ngram_hash_set($"t", n))
        .collect().map(_.getSeq[Long](0))
      texts.zip(got).foreach { case (t, g) =>
        assert(g == naive(t, n), s"n=$n text='$t'")
      }
    }
  }

  test("char-gram kernels count CODE POINTS, matching SQL substr on non-BMP text") {
    // U+1F600 is a surrogate PAIR in UTF-16: a code-unit-based kernel would
    // split it and hash garbage half-grams the SQL oracle never produces
    val emoji = new String(Character.toChars(0x1F600))
    val s = s"ab${emoji}cd${emoji}e"
    def cpGrams(s: String, n: Int): Seq[String] = {
      val cps = s.codePoints().toArray
      if (cps.length <= n) Seq(s)
      else (0 to cps.length - n).map(i => new String(cps, i, n))
    }
    for (n <- Seq(1, 2, 3, 7)) {
      val got = Seq(s).toDF("t").select(ngram_hash_set($"t", n))
        .collect()(0).getSeq[Long](0)
      val want = cpGrams(s, n).map(textexprs.portableHash60).distinct.sorted
      assert(got == want, s"n=$n")
      val gotFp = Seq(s).toDF("t").select(doc_fingerprint($"t", n))
        .collect()(0).getLong(0)
      assert(gotFp == cpGrams(s, n).map(textexprs.portableHash60).min, s"fp n=$n")
    }
  }

  test("word_ngram_hash_set == sorted distinct portableHash60 over word shingles") {
    def naive(s: String, n: Int): Seq[Long] =
      textexprs.shingles(s, n).map(textexprs.portableHash60).distinct.sorted.toSeq
    for (n <- Seq(1, 2, 5, 13)) {
      val texts = Seq.fill(40)(randomText(60)) :+ "" :+ "  " :+ "solo" :+
        (1 to 20).map(i => s"t$i").mkString(" ")
      val got = texts.toDF("t").select(word_ngram_hash_set($"t", n))
        .collect().map(_.getSeq[Long](0))
      texts.zip(got).foreach { case (t, g) =>
        assert(g == naive(t, n), s"n=$n text='$t'")
      }
    }
  }

  test("SortedLongs.interCount == intersection size on sorted distinct long arrays") {
    val cases = Seq.fill(80) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Seq(Long.MinValue, 0L, 5L, Long.MaxValue)))
    cases.foreach { case (a, b) =>
      assert(SortedLongs.interCount(a.toArray, a.size, b.toArray, b.size) ==
        (a.toSet intersect b.toSet).size, s"a=$a b=$b")
      // a shorter range counts only its own elements (the verify appends
      // the id after the set)
      val k = a.size / 2
      assert(SortedLongs.interCount(a.toArray, k, b.toArray, b.size) ==
        (a.take(k).toSet intersect b.toSet).size, s"a=$a (first $k) b=$b")
    }
  }

  test("vec_nearest prints its centroid matrix by shape and content, not identity") {
    def kernel(flat: Array[Double]) = graft.functions.vecexprs.VecNearest(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("v"), flat, 2)
    val a = kernel(Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val b = kernel(Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(a.toString == b.toString, s"${a.toString} != ${b.toString}")
    assert(a.toString.contains("3x2") && !a.toString.contains("[D@"), a.toString)
    assert(kernel(Array(1.0, 2.0, 3.0, 4.0, 5.0, 7.0)).toString != a.toString)
  }

  test("vec_nearest == scalar argmin with zero-padding on mixed-length vectors") {
    val dim = 6
    val cents: Array[Array[Double]] = Array.fill(5)(
      Array.fill(rnd.nextInt(dim) + 1)(rnd.nextInt(21).toDouble - 10))
    val maxDim = cents.map(_.length).max
    val flat = new Array[Double](cents.length * maxDim)
    cents.zipWithIndex.foreach { case (v, i) =>
      System.arraycopy(v, 0, flat, i * maxDim, v.length)
    }
    val vecs = Seq.fill(50)(
      Array.fill(rnd.nextInt(dim + 3) + 1)(rnd.nextInt(21).toDouble - 10))
    val kernel = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.vecexprs.VecNearest(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("v"), flat, maxDim))
    val got = vecs.map(_.toSeq).toDF("v").select(kernel.as("nc"))
      .select($"nc.cell", $"nc.d2").as[(Int, Double)].collect()
    vecs.zip(got).foreach { case (v, g) =>
      // the kernel pads the MATRIX to maxDim, so compare against the naive
      // model over the padded centroids — identical zero-pad semantics
      val paddedCents = cents.map(c => java.util.Arrays.copyOf(c, maxDim))
      val scored = paddedCents.zipWithIndex.map { case (c, i) =>
        val n = math.max(v.length, c.length)
        var s = 0.0
        var j = 0
        while (j < n) {
          val d = (if (j < v.length) v(j) else 0.0) - (if (j < c.length) c(j) else 0.0)
          s += d * d; j += 1
        }
        (i, s)
      }
      val want = scored.minBy { case (i, s) => (s, i) }
      assert(g == want, s"v=${v.toSeq}")
    }
  }
}
