package graft

import org.apache.spark.sql.functions._

/** Scale-rehearsal corpus builder: expands the sf0.1 documents,
  * embeddings, events, lineitem, and orders tables by an integer
  * factor so the dedup/similarity AND relational/event families can
  * be measured
  * beyond the largest driver-provided sf (BASELINE.md "scaling"
  * section).
  *
  * Construction is deterministic and preserves the WITHIN-COPY
  * structure that makes each family non-trivial:
  *  - documents: copy k shifts doc_id by k·10⁷ and maps the vowels
  *    through a copy-specific translate table — every in-copy near-dup
  *    pair survives (both members of a pair pass through the SAME
  *    vowel map, so their shingle overlap is preserved; the map can
  *    merge a vowel into an existing consonant, which only ever ADDs
  *    cross-copy collisions, never removes in-copy ones), while most
  *    cross-copy shingle overlap collapses, so the candidate graph
  *    grows ~linearly with the factor rather than quadratically. The
  *    vowel-target window limits factor to ≤ 21 (guarded below).
  *  - embeddings: copy k shifts vec_id by k·10⁷ and adds a small
  *    constant bias (k·0.001) to every component — copies stay
  *    near-parallel to their original (cosine ≈ 0.999…), deliberately
  *    planting factor-sized near-identical clusters that exercise the
  *    dedup_embedding width cap and the banded candidate path. Query
  *    ids (vec_id < 20) exist only in copy 0, so Q stays fixed while N
  *    grows — the pure N-scaling measurement.
  *  - events: copy k shifts event_id AND user_id by k·10⁷; timestamps,
  *    types, and values are untouched. Per-user ordering, session
  *    structure, and CDC version chains replicate exactly (new users,
  *    same histories), so `event_sessions`/`cdc_upsert` output grows
  *    linearly while per-key work is constant; the time axis does NOT
  *    stretch, so `window_tumbling` and the range joins keep a fixed
  *    bucket count with factor× occupancy per bucket — the realistic
  *    "same retention window, more traffic" shape.
  *  - lineitem: copy k shifts l_orderkey by k·10⁷ — per-order line
  *    groups replicate exactly, so `agg_salted`'s group count grows
  *    linearly at constant group width while its two-stage salted
  *    shuffle carries factor× rows.
  *
  * Usage: runMain graft.ScaleData <sfDir> <outDir> <factor> [graph]
  *
  * Factors above 21 cap the documents/embeddings tables at 21 copies
  * (the vowel-window bound) while the relational/event tables scale
  * fully — the big-factor mode exists for the graph/streaming
  * rehearsals, which never read the text tables. The optional `graph`
  * mode ALSO shifts o_custkey and l_suppkey per copy, so the co-order
  * graph itself grows by the factor (99 disjoint copies of the base
  * graph — volume grows, diameter stays, which is exactly the shape
  * that tests whether bounded-rounds claims survive another decade);
  * without it copies shift only order keys and the DISTINCT pair
  * projection collapses the graph back to the base (the default mode
  * preserves the other families' per-copy join structure).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, factorStr) = (args(0), args(1), args(2))
    // `graph` grows the co-order graph as DISJOINT copies; `graphhub`
    // additionally wires a handful of GLOBAL hub suppliers into every
    // copy with a geometric degree distribution (hub 0 takes ~50% of
    // the overlay edges, hub 1 ~25%, …) — the cross-copy skew the
    // disjoint-copy rehearsal admits it never exercises: one node
    // whose degree is ~factor × 10⁴ while the typical supplier stays
    // at ~10³, so every keyed shuffle in the graph family sees a
    // genuinely hot key.
    // `hotsrc` grows the TEXT tables past the vowel-window cap (maps
    // cycle mod 22 — near-dup structure degrades, but the text-skew
    // rehearsal ops never read shingles) and overlays REAL key skew:
    // ~50% of all docs are rewritten to ONE global source
    // (`src_hot`) and get ONE shared token appended to their text
    // (`zqhotterm`, alien to the vocabulary so it collides with
    // nothing) — so every source-keyed window (domain caps, quality
    // gates) and every term-keyed fold (inverted index, TF-IDF) sees
    // a key owning half the corpus. Deterministic membership via the
    // doc_id hash, stable under factor changes.
    val mode = if (args.length > 3) args(3) else ""
    val hubMode = mode == "graphhub"
    val hotSrcMode = mode == "hotsrc"
    val graphMode = mode == "graph" || hubMode
    val factor = factorStr.toInt
    require(factor >= 1 && factor <= 99,
      s"factor must be in [1, 99] (copy ids shift by k*10^7 and must stay " +
        s"below the 10^9 fresh-key offset); got $factor")
    val docFactor = if (hotSrcMode) factor else math.min(factor, 21)
    val spark = SparkEntry.localSession()

    val vowelTargets = "aeioubcdfghjklmnpqrstvwxyz"
    val docs = Tables.documents(spark, sfDir)
    val docCopies = (0 until docFactor).map { k =>
      val vk = k % 22
      val shifted = docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
      if (vk == 0) shifted
      else shifted.withColumn("text",
        translate(col("text"), "aeiou", vowelTargets.substring(vk, vk + 5)))
    }.reduce(_ union _)
    val docsAll =
      if (!hotSrcMode) docCopies
      else {
        val hot = pmod(hash(col("doc_id"), lit("hotdoc")), lit(2)) === 0
        docCopies
          .withColumn("source",
            when(hot, lit("src_hot")).otherwise(col("source")))
          .withColumn("text",
            when(hot, concat(col("text"), lit(" zqhotterm")))
              .otherwise(col("text")))
      }
    docsAll.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings stay inside the bias window regardless of mode (the
    // hotsrc rehearsal ops never read vectors)
    val emb = Tables.embeddings(spark, sfDir)
    val embCopies = (0 until math.min(docFactor, 21)).map { k =>
      emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, x -> CAST(x + ${k * 0.001} AS FLOAT))")
          .as("embedding"),
        col("label"))
    }.reduce(_ union _)
    embCopies.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // write ts back as the raw nanos long the loader expects, so the
    // scaled dir round-trips through Tables.events like the driver's
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
    val evCopies = (0 until factor).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("user_id", col("user_id") + lit(k * 10000000L))
    }.reduce(_ union _)
    evCopies.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val li = Tables.lineitem(spark, sfDir)
    val liCopies = (0 until factor).map { k =>
      val base = li.withColumn("l_orderkey",
        col("l_orderkey") + lit(k * 10000000L))
      if (graphMode)
        base.withColumn("l_suppkey", col("l_suppkey") + lit(k * 10000000L))
      else base
    }.reduce(_ union _)
    // Hub overlay: a ~2% deterministic slice of every copy's lines is
    // DUPLICATED onto eight global (unshifted) hub suppliers keyed
    // 9·10⁸ + idx, idx geometric via floor(log₂): each copy's
    // customers co-order with the same hubs, so the hubs' degrees
    // grow with the factor while everything else stays per-copy.
    val liAll =
      if (!hubMode) liCopies
      else {
        val h = pmod(hash(col("l_orderkey"), col("l_linenumber"),
          lit("hubslice")), lit(5000))
        val hubRows = liCopies.filter(h < lit(100))
          .withColumn("l_suppkey", lit(900000000L) +
            (lit(7) - floor(log2(pmod(hash(col("l_orderkey"),
              col("l_linenumber"), lit("hubpick")), lit(255)) + lit(1))))
            .cast("long"))
        liCopies.unionByName(hubRows)
      }
    liAll.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // orders mirrors lineitem's key shift so the o_orderkey =
    // l_orderkey join structure replicates exactly per copy —
    // join_bucketed's per-order groups stay constant-width while both
    // fact sides grow by the factor
    val ord = Tables.orders(spark, sfDir)
    val ordCopies = (0 until factor).map { k =>
      val base = ord.withColumn("o_orderkey",
        col("o_orderkey") + lit(k * 10000000L))
      if (graphMode)
        base.withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
      else base
    }.reduce(_ union _)
    ordCopies.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // customer: copy k shifts c_custkey only — the quasi-identifier
    // columns (nation, segment, balance) replicate untouched, so the
    // privacy audit's QI domain stays fixed while every group's
    // occupancy grows by the factor (the "more users, same
    // demographics" shape)
    val cust = Tables.customer(spark, sfDir)
    val custCopies = (0 until factor).map { k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
    }.reduce(_ union _)
    custCopies.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val counts = Seq("documents", "embeddings", "events", "lineitem",
        "orders", "customer")
      .map(t => s"$t=${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    println(s"[scale] $outDir: ${counts.mkString(" ")} (factor $factor" +
      s"${if (graphMode) ", graph mode" else ""} from $sfDir)")
    // Self-describing MODE marker: hotsrc raises docFactor past the
    // 21-copy embeddings cap, so documents with doc_id >= 21e7 have NO
    // embedding rows — vector ops on such a dir would quietly operate
    // on partial coverage. The marker makes a mis-pointed run fail
    // loudly instead (see [[checkDir]], called by Bench/SpotBench).
    val embCopies21 = math.min(docFactor, 21)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/SCALE_MODE.txt"),
      s"mode=${if (mode.isEmpty) "full" else mode}\n" +
        s"factor=$factor\ndocCopies=$docFactor\nembCopies=$embCopies21\n" +
        s"partialVectorCoverage=${docFactor > embCopies21}\n")
    spark.stop()
  }

  /** Refuse to bench a rehearsal dir whose marker says vector coverage
    * is partial (hotsrc mode), unless explicitly overridden — vector
    * ops there would silently score a doc population with no matching
    * embeddings. Dirs without a marker (the driver's testdata) pass. */
  def checkDir(sfDir: String): Unit = {
    val marker = java.nio.file.Paths.get(s"$sfDir/SCALE_MODE.txt")
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker)
          .contains("partialVectorCoverage=true") &&
        !sys.env.get("GRAFT_ALLOW_PARTIAL_VECTORS").contains("1")) {
      System.err.println(s"[bench] REFUSING $sfDir: SCALE_MODE.txt marks " +
        "partial vector coverage (hotsrc rehearsal dir). Vector ops would " +
        "read a doc population with no matching embeddings. Set " +
        "GRAFT_ALLOW_PARTIAL_VECTORS=1 to override for text-only runs.")
      sys.exit(2)
    }
  }
}
