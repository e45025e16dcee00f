package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus docs that share at least one
  * word n-gram with an evaluation set — the standard guard against eval
  * leakage in a pretraining corpus (13-gram overlap in published
  * pipelines; n is a parameter).
  *
  * Scale design (10^12-doc corpus, 10^4..10^6-doc benchmark): the
  * benchmark's distinct n-gram hashes are SMALL by nature — they are
  * BROADCAST, so the corpus side is a map-side left-semi hash join: the
  * corpus payload never crosses an exchange, each doc is scanned once,
  * and the only shuffle in the whole plan is the final distinct over the
  * contaminated ids (ids only). Plan-asserted in DecontaminateSpec.
  *
  * The n-gram hash is a plain spec (token = maximal non-whitespace run,
  * token hash = polynomial base 1000003 over UTF-16 units, window hash =
  * fmix64-chained over the n token hashes from an FNV offset seed) so
  * the oracle re-derives it independently.
  */
object Decontaminate {

  /** Distinct hashes of all word n-grams of `text` (empty for null/short
    * texts — a doc with fewer than n tokens has no n-gram to leak). */
  def wordNgramHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.empty
    // tokenize: index scan over maximal non-whitespace runs, hashes into
    // a primitive growable array (a boxed ArrayBuffer[Long] allocated one
    // object per token — round-6 optimization, output unchanged)
    var tokHashes = new Array[Long](16)
    var nTok = 0
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && Character.isWhitespace(text.charAt(i))) i += 1
      var h = 0L
      val start = i
      while (i < len && !Character.isWhitespace(text.charAt(i))) {
        h = h * 1000003L + text.charAt(i)
        i += 1
      }
      if (i > start) {
        if (nTok == tokHashes.length)
          tokHashes = java.util.Arrays.copyOf(tokHashes, nTok * 2)
        tokHashes(nTok) = h; nTok += 1
      }
    }
    if (nTok < n) return Array.empty
    // window hashes → sort + in-place dedup: same sorted-distinct output
    // as the old TreeSet, no boxing (round-6 optimization)
    val nWin = nTok - n + 1
    val buf = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var h = 0xCBF29CE484222325L
      var j = 0
      while (j < n) { h = TextAnalysis.fmix64(h ^ tokHashes(w + j)); j += 1 }
      buf(w) = h
      w += 1
    }
    java.util.Arrays.sort(buf)
    var keep = 0
    var r = 1
    while (r < nWin) {
      if (buf(r) != buf(keep)) { keep += 1; buf(keep) = buf(r) }
      r += 1
    }
    if (keep + 1 == nWin) buf else java.util.Arrays.copyOf(buf, keep + 1)
  }

  /** Ids of corpus docs sharing >= 1 word n-gram with any benchmark doc.
    *
    * The benchmark side is broadcast — at corpus scale the semi join
    * SHOULD be map-side; an accidental shuffle join would move the
    * exploded corpus n-grams (n x the corpus bytes). But the broadcast
    * is SIZE-GATED (VERDICT r4 #2): a 10^6-doc benchmark reaches
    * ~10^8-10^9 distinct 13-gram hashes — past any sane JVM broadcast —
    * so above `maxBroadcastHashes` (default 32M hashes ≈ 256 MB) the
    * operator falls back to a shuffled left-semi on the (id, hash)
    * exploded frame: the corpus text still never moves, only its hashes
    * do, and AQE can skew-split the join. The gate itself is an
    * `approx_count_distinct` over the exploded benchmark at rsd = 0.02
    * — one NARROW pass (partial HLL sketches, no shuffle), so the full
    * distinct aggregation runs exactly once, inside the join build
    * (round-5 review: an exact count ran the distinct shuffle twice at
    * precisely the scale the gate exists for; and the DEFAULT rsd is
    * 5%, which let a benchmark ~15% past the cap still broadcast in
    * the 3-sigma tail). With ±2% the gate can mis-route only within a
    * few percent of the threshold, where both paths are fine. */
  def contaminatedIds(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 13,
      maxBroadcastHashes: Long = 32000000L): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val ngramUdf = udf((t: String) => wordNgramHashes(t, n))
    // ONE exploded benchmark frame feeds both the size gate and the join
    // build. It is not cached: the gate's action (this call triggers a
    // Spark job) and the caller's execution of the returned lazy frame
    // each run the n-gram UDF over the benchmark, which is small by
    // nature. A persist here could never be released — the caller, not
    // this function, executes the frame — so every call left an RDD
    // cached for the rest of the session.
    val benchNgrams = benchmark
      .select(explode(ngramUdf(col(benchTextCol))).as("h"))
    val benchHashes = benchNgrams.distinct()
    val estHashes = benchNgrams
      .agg(approx_count_distinct(col("h"), 0.02)).first.getLong(0)
    val exploded =
      Dedup.parallelize(corpus.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"), explode(ngramUdf(col("text"))).as("h"))
    val semi =
      if (estHashes <= maxBroadcastHashes)
        exploded.join(broadcast(benchHashes), Seq("h"), "left_semi")
      else
        exploded.join(benchHashes, Seq("h"), "left_semi")
    semi.select("id").distinct()
  }
}
