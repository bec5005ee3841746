package graft.core

/** Set kernels over SORTED ascending, duplicate-free `long` arrays — the
  * token-set representation of the exact Jaccard joins (word sets as
  * `xxhash64` values, n-gram sets as portable 60-bit md5 hashes). */
object SortedLongs {

  /** |a(0 until na) ∩ b(0 until nb)| by an allocation-free two-pointer
    * merge: the per-candidate-pair verify of the Jaccard prefix join. Both
    * ranges must be sorted ascending and duplicate-free; with duplicates
    * the count is undefined. */
  def interCount(a: Array[Long], na: Int, b: Array[Long], nb: Int): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
