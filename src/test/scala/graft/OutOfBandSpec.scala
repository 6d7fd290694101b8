package graft

import graft.llm.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Semantic tests for the Orc=N queries (SURVEY §5.2): sketches, map
  * functions, MinHash recall, multimodal decode plumbing. */
class OutOfBandSpec extends SparkTestBase {

  test("approx_count_distinct within 5% of exact per suppkey") {
    val li = Tables.load(spark, sf, "lineitem")
    val both = li.groupBy("l_suppkey").agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_partkey")).as("exact"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"suppkey ${r.get(0)}: $a vs $e")
    }
  }

  test("approx quantiles land within 10% of exact percentiles") {
    val li = Tables.load(spark, sf, "lineitem")
    val both = li.groupBy("l_returnflag").agg(
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
        .as("approx"),
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"))
    both.collect().foreach { r =>
      val (a, e) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(a - e) / e <= 0.10, s"${r.get(0)}: $a vs $e")
    }
  }

  test("map functions round-trip the source columns") {
    val rows = operators.Scalars.qMapFuncs.run(spark, sf)
      .join(Tables.load(spark, sf, "events"), "event_id")
      .select("type_from_map", "event_type", "n_keys")
      .collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getInt(2) == 2)
    }
  }

  test("minhash LSH recovers planted near-duplicate pairs (recall >= 0.9)") {
    val docs = Tables.load(spark, sf, "documents")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val found = operators.LlmQueries.qDedupMinhash.run(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = planted.count(id => found.contains((id, id + 1000000)))
    assert(planted.nonEmpty)
    assert(recovered.toDouble / planted.size >= 0.9,
      s"recovered $recovered of ${planted.size}")
  }

  test("deterministic minhash recovers every planted pair (recall = 1.0)") {
    val docs = Tables.load(spark, sf, "documents")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val out = operators.LlmQueries.qDedupMinhashDet.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = out.map(p => (p._1, p._2)).toSet
    assert(planted.nonEmpty)
    // a 10-token prefix drop preserves nearly all 3-shingles, so every
    // planted copy must band-collide with its source and score >= 0.5
    planted.foreach(id =>
      assert(found.contains((id, id + 1000000)), s"missing pair for $id"))
    out.foreach(p => assert(p._3 >= 0.5 && p._3 <= 1.0))
    // discriminative signatures: candidates stay FAR below all-pairs
    // (the raw-token variant degenerated to ~1/3 of all pairs)
    val n = docs.count() + planted.size
    assert(out.length < n, s"${out.length} pairs from $n docs")
  }

  test("oracle-gated dedup pipeline is a conservative refinement of GraphX CC") {
    // q_dedup_clusters_det runs 3 FIXED label sweeps (what the oracle can
    // unroll); its label groups are subsets of true components, so its
    // survivors must be a SUPERSET of the converged (GraphX) survivors —
    // and LabelProp.run, the converged form, must match GraphX exactly.
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substr(text, 11)").as("text")))
    val pairs = Dedup.simhashNearDups(withDups)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    def survSet(clusters: org.apache.spark.sql.DataFrame) =
      Dedup.survivors(withDups, clusters).collect().map(_.getLong(0)).toSet
    val gx = survSet(Dedup.nearDupClusters(pairs))
    val det = survSet(plans.LabelProp.iterate(edges, 3)
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id")))
    val conv = survSet(plans.LabelProp.run(edges)
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id")))
    assert(conv == gx, "converged LabelProp must equal GraphX CC")
    assert(gx.subsetOf(det), "fixed-sweep survivors must cover converged")
    val Array(row) = operators.LlmQueries.qDedupClustersDet.run(spark, sf)
      .collect()
    assert(row.getLong(2) == det.size)
    assert(row.getLong(3) == det.sum)
  }

  test("simhash combination-table banding is result-invariant across block counts") {
    // the hamming <= 3 result is a pigeonhole superset + exact filter at
    // EVERY block count — the scale knob may only change candidate
    // volume, never the answer (this is what licenses the fixed-band
    // oracle SQL for the <= 3-filtered queries)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substr(text, 11)").as("text")))
    def pairs(b: Int) = Dedup.simhashNearDupsWith(withDups, bits = 32,
        maxHamming = 3, nBlocks = b, keepBlocks = b - 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p4 = pairs(4)
    assert(p4.nonEmpty)
    assert(pairs(6) == p4, "B=6 must equal the classic 4x8 result")
    assert(pairs(8) == p4, "B=8 must equal the classic 4x8 result")
    // and the 60-bit/thr-6 detector's combination tables equal ITS
    // single-block banding (the oracle's form) — same invariance, the
    // scale detector's two banding shapes agree on the filtered result
    def pairs60(nb: Int, kb: Int) = Dedup.simhashNearDupsWith(withDups,
        bits = 60, maxHamming = 6, nBlocks = nb, keepBlocks = kb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs60(9, 3) == pairs60(9, 1),
      "combination tables must equal single-block bands at 60/6")
    // and at the two-lane scale point (2 × 60 bits, thr 12): per-lane
    // C(9,3) tables vs per-lane single-block bands (keepBlocks = 1) —
    // a pair within total hamming <= 12 has <= 6 in some lane, so both
    // bandings surface it and the filtered result is identical
    def pairs120(kb: Int) = Dedup.simhashNearDupsWith(withDups,
        bits = 60, maxHamming = 12, nBlocks = 9, keepBlocks = kb,
        lanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p120 = pairs120(3)
    assert(p120.nonEmpty)
    assert(p120 == pairs120(1),
      "per-lane combination tables must equal single-block bands at 120/12")
  }

  test("data-growing detector parameters step per decade past 100k docs") {
    assert(Dedup.simhashParamsFor(6120) == ((1, 32, 3, 4)))
    assert(Dedup.simhashParamsFor(100000) == ((1, 32, 3, 4)))
    assert(Dedup.simhashParamsFor(510000) == ((2, 60, 12, 9)))
    assert(Dedup.simhashParamsFor(51000000) == ((2, 60, 12, 9)))
    assert(Dedup.minhashParamsFor(6120) == ((12, 3)))
    assert(Dedup.minhashParamsFor(510000) == ((25, 5)))
    assert(Dedup.minhashParamsFor(5100000) == ((42, 7)))
    // keep-masks: C(B, kb) pairwise-distinct masks within the signature
    for ((bits, b, kb) <- Seq((32, 4, 1), (32, 6, 3), (32, 8, 5),
        (60, 9, 3), (60, 9, 1))) {
      val masks = Dedup.simhashKeepMasks(bits, b, kb)
      def choose(n: Int, k: Int): Long =
        (1 to k).map(i => (n - k + i).toLong).product /
          (1 to k).map(_.toLong).product
      assert(masks.size == choose(b, kb), s"($bits,$b,$kb)")
      assert(masks.distinct.size == masks.size)
      val full = if (bits == 64) -1L else (1L << bits) - 1
      assert(masks.forall(m => (m & ~full) == 0L))
    }
  }

  test("grown minhash banding (sf10 shape k=25/b=5) keeps planted recall >= 0.9") {
    // wider bands push the S-curve knee right: a planted copy of a SHORT
    // doc (prefix drop = larger Jaccard dent) can fall below a 5-row
    // band's collision knee — the family gate is recall >= 0.9, and the
    // corpora that trigger k=25 (>100k docs) are GenData-length docs
    // where the planted Jaccard sits well above the knee
    val docs = Tables.load(spark, sf, "documents")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val withDups = docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          expr("substr(text, 11)").as("text")))
    val found = Dedup.minhashDetPairs(withDups, k = 25, bandSize = 5,
        maxShingles = 2000)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = planted.count(id => found.contains((id, id + 1000000)))
    assert(planted.nonEmpty)
    assert(recovered.toDouble / planted.size >= 0.9,
      s"recovered $recovered of ${planted.size}")
  }

  test("simhash of identical text collides; mutated copy stays close") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the fast key order sort table scan merge part window"),
      (2L, "the fast key order sort table scan merge part window"),
      (3L, "zzz qqq xxx vvv completely different tokens here now ok"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("multimodal decode: schema, determinism, pruned metadata") {
    import spark.implicits._
    val media = Multimodal.mediaTable(Tables.load(spark, sf, "documents"))
      .as[Multimodal.MediaRecord]
    val out = Multimodal.decode(media)
    assert(out.columns.toSeq ==
      Seq("doc_id", "modality", "byte_len", "width", "height", "n_frames",
        "checksum", "feature"))
    val r = out.filter(col("doc_id") === 0).head()
    val r2 = out.filter(col("doc_id") === 0).head()
    assert(r.feature.toSeq == r2.feature.toSeq &&
      (r.doc_id, r.byte_len, r.width, r.height, r.n_frames) ==
        ((r2.doc_id, r2.byte_len, r2.width, r2.height, r2.n_frames)))
    assert(r.feature.length == 8)
    // metadata path never deserializes payload
    val meta = Multimodal.metadata(
      Multimodal.mediaTable(Tables.load(spark, sf, "documents")))
    assert(meta.filter(col("byte_len") <= 0).count() == 0)
    // frame sampling: every-2nd-frame indices are even and bounded by the
    // per-record frame count (1 + byte_len % 16)
    val frames = Multimodal.sampleFrames(media, every = 2)
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() == 0)
    assert(frames.filter(col("frame_idx") >= 16).count() == 0)
  }

  test("batched decode equals per-row decode for any batch size") {
    import spark.implicits._
    val media = Multimodal.mediaTable(Tables.load(spark, sf, "documents"))
      .as[Multimodal.MediaRecord]
    val perRow = Multimodal.decode(media)
      .select("doc_id", "byte_len", "checksum", "feature")
    Seq(1, 7, 64).foreach { bs =>
      val batched = Multimodal.decodeBatched(media, bs)
        .select("doc_id", "byte_len", "checksum", "feature")
      assert(batched.count() == perRow.count(), s"batchSize=$bs")
      assert(batched.except(perRow).isEmpty && perRow.except(batched).isEmpty,
        s"batchSize=$bs diverged from per-row decode")
    }
  }

  test("real audio decode: codec rate/frames + sample checksum match " +
      "the generating PCM formula") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val media = Multimodal.mediaTableReal(docs)
    // audio rows (doc_id % 3 == 1) must carry a real RIFF/WAVE container
    val wav = media.filter(_.modality == "audio").take(20)
    assert(wav.nonEmpty)
    wav.foreach { r =>
      assert(r.payload.take(4).sameElements("RIFF".getBytes) &&
        r.payload.slice(8, 12).sameElements("WAVE".getBytes),
        s"doc ${r.doc_id}: payload lacks RIFF/WAVE magic")
    }
    // decode through the engine, then recompute the expected properties
    // from the generating formula — rate/frames from doc_id, checksum as
    // the independent sum over Multimodal.audioSample
    val decoded = Multimodal.decode(media.filter(_.modality == "audio"))
      .filter(col("doc_id") < 120)
      .collect().map(d => d.doc_id -> d).toMap
    assert(decoded.nonEmpty)
    decoded.values.foreach { d =>
      val expectRate = Array(8000, 11025, 16000, 22050)((d.doc_id % 4).toInt)
      val expectN = 256 + (d.doc_id % 512).toInt
      assert(d.width == expectRate,
        s"doc ${d.doc_id}: sample rate ${d.width} != $expectRate")
      assert(d.height == 16, s"doc ${d.doc_id}: bits ${d.height} != 16")
      assert(d.n_frames == expectN,
        s"doc ${d.doc_id}: frames ${d.n_frames} != $expectN")
      val expectSum = (0 until expectN)
        .map(i => Multimodal.audioSample(d.doc_id, i).toLong).sum
      assert(d.checksum == expectSum,
        s"doc ${d.doc_id}: checksum ${d.checksum} != $expectSum")
      assert(d.feature.length == 8 && d.feature.forall(f => f >= 0 && f <= 1))
    }
  }

  test("real image decode: codec dims + pixel checksum match an " +
      "independent ImageIO decode of the same payload") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val media = Multimodal.mediaTableReal(docs)
    // image rows (doc_id % 3 == 0) must carry real codec bytes: PNG for
    // even ids, BMP for odd ids
    val img = media.filter(_.modality == "image").take(20)
    assert(img.nonEmpty)
    img.foreach { r =>
      val magicOk =
        if (r.doc_id % 2 == 0)
          r.payload.take(4).sameElements(Array(0x89, 'P', 'N', 'G').map(_.toByte))
        else r.payload(0) == 'B'.toByte && r.payload(1) == 'M'.toByte
      assert(magicOk, s"doc ${r.doc_id}: payload lacks PNG/BMP magic")
    }
    // decode through the engine, then re-decode the same bytes here with
    // ImageIO directly and compare dims + pixel checksum
    val decoded = Multimodal.decode(media.filter(_.modality == "image"))
      .filter(col("doc_id") < 120)
      .collect().map(d => d.doc_id -> d).toMap
    assert(decoded.nonEmpty)
    img.filter(_.doc_id < 120).foreach { r =>
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      val d = decoded(r.doc_id)
      assert(d.width == ref.getWidth && d.height == ref.getHeight,
        s"doc ${r.doc_id}: engine dims ${d.width}x${d.height} != codec " +
          s"${ref.getWidth}x${ref.getHeight}")
      // expected synthetic dims: 8 + id%24 by 8 + id%16
      assert(d.width == 8 + (r.doc_id % 24).toInt &&
        d.height == 8 + (r.doc_id % 16).toInt)
      var sum = 0L
      for (y <- 0 until ref.getHeight; x <- 0 until ref.getWidth)
        sum += ref.getRGB(x, y) & 0xFFFFFF
      assert(d.checksum == sum,
        s"doc ${r.doc_id}: checksum ${d.checksum} != independent $sum")
      assert(d.n_frames == 1 && d.feature.length == 8)
      assert(d.feature.forall(f => f >= 0f && f <= 1f))
    }
    // the video arm keeps the documented byte-level stand-in (audio is
    // a real codec now — pinned in its own test above)
    val av = Multimodal.decode(media.filter(_.modality == "video"))
      .filter(col("doc_id") < 50).collect()
    assert(av.nonEmpty)
    av.foreach { d =>
      assert(d.width == 320 + d.byte_len % 320 &&
        d.height == 240 + d.byte_len % 240)
    }
  }

  test("near-dup clustering keeps one survivor per planted pair") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = operators.LlmQueries.qDedupNgram.run(spark, sf)
    val nPlanted = docs.filter(col("doc_id") % 50 === 0).count()
    val clusters = Dedup.nearDupClusters(pairs)
    val all = docs.select("doc_id").unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id")))
    val kept = Dedup.survivors(all, clusters)
    // most planted copies land in their original's cluster (the 0.3
    // rare-shingle Jaccard threshold may miss a couple)…
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    val recovered = planted.count(id =>
      cl.get(id + 1000000).isDefined && cl.get(id + 1000000) == cl.get(id))
    assert(nPlanted > 0)
    assert(recovered.toDouble / nPlanted >= 0.8,
      s"recovered $recovered of $nPlanted")
    // …and survivors keep cluster minima only (clustered copies never
    // survive; originals may legitimately cluster with each other here)
    assert(kept.count() > 0 && kept.count() <= all.count() - recovered)
    val copySurvivors = kept.filter(col("doc_id") >= 1000000).count()
    assert(copySurvivors == nPlanted - recovered, s"$copySurvivors survived")
  }

  test("embedding near-dup query finds exactly the planted copies") {
    val pairs = operators.LlmQueries.qDedupEmbed.run(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 1000000)
      assert(r.getDouble(2) >= 0.99)
    }
  }

  /** Deterministically perturbed copies (±0.4% per component) of every
    * embedding, planted at vec_id + 10^6 — cosine ≈ 0.9999. */
  private def withPlantedDups(embs: org.apache.spark.sql.DataFrame) = {
    val dups = embs.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("""transform(embedding, (v, i) ->
             |  CAST(v * (1.0 + 0.002 * ((CAST(vec_id + i AS INT) % 5) - 2))
             |       AS FLOAT))""".stripMargin).as("embedding"),
      col("label"))
    embs.unionByName(dups)
  }

  test("hyperplane LSH near-dups: recall >= 0.9 on planted copies") {
    val embs = Tables.load(spark, sf, "embeddings")
    val all = withPlantedDups(embs).cache()
    val planted = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    val found = Dedup.hyperplaneNearDups(all, dims = 64, bits = 16,
        tables = 4, seed = 42L, minCos = 0.99)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = planted.count(id => found.contains((id, id + 1000000L)))
    assert(planted.nonEmpty)
    assert(recovered.toDouble / planted.size >= 0.9,
      s"recovered $recovered of ${planted.size}")
  }

  test("contamination cap: tail shingles beyond maxPos are found once the cap is raised") {
    import spark.implicits._
    // eval doc holds a unique 20-gram; the train doc embeds it at
    // position ~2500 of a 3000-char body — past q_decontaminate's 2000
    val needle = "XYZZY-EVAL-NEEDLE-20"
    assert(needle.length == 20)
    val train = Seq((1L, ("a" * 2500) + needle + ("b" * 480)))
      .toDF("doc_id", "text")
    val ev = Seq((2L, "prefix " + needle + " suffix")).toDF("doc_id", "text")
    val capped = graft.llm.Dedup.contamination(train, ev, k = 20,
      maxPos = 2000).count()
    assert(capped == 0, s"cap 2000 should miss the tail needle, got $capped")
    val uncapped = graft.llm.Dedup.contamination(train, ev, k = 20)
      .collect()
    assert(uncapped.length == 1 && uncapped.head.getLong(0) == 1L,
      s"uncapped scan must find the tail needle: ${uncapped.mkString}")
  }

  test("trained-IVF search: recall@10 >= 0.9 vs exact top-k") {
    val embs = Tables.load(spark, sf, "embeddings")
    val probes = (0L until 30L by 10L).toSeq
    val recalls = probes.map { id =>
      val exact = graft.llm.SimSearch.cosineTopK(embs, id, 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = graft.llm.SimSearch.trainedIvfTopK(embs, id, 10,
        nLists = 8, nProbe = 5, lloydIters = 3)
        .collect().map(_.getLong(0)).toSet
      (ivf & exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")
  }

  test("PQ search: recall@10 >= 0.9 vs exact top-k after re-ranking") {
    val embs = Tables.load(spark, sf, "embeddings")
    // m=16 × 32 codewords: 16 codes/vector (vs 64 floats) still reaches
    // full recall with a 100-vector re-rank on this corpus; coarser
    // settings measured lower (8×16/rerank 50 → 0.73)
    val index = graft.llm.SimSearch.buildPqIndex(embs, dims = 64, m = 16,
      codebookSize = 32, lloydIters = 2)
    index.codes.cache()
    try {
      val probes = (0L until 30L by 10L).toSeq
      val recalls = probes.map { id =>
        val exact = graft.llm.SimSearch.cosineTopK(embs, id, 10)
          .collect().map(_.getLong(0)).toSet
        val pq = graft.llm.SimSearch.pqTopK(index, embs, id, 10, rerank = 100)
          .collect().map(_.getLong(0)).toSet
        (pq & exact).size.toDouble / exact.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")
    } finally index.codes.unpersist()
  }

  test("IVF×PQ composed search keeps recall@10 >= 0.8 at a fraction of the scan") {
    val embs = Tables.load(spark, sf, "embeddings")
    val ivf = graft.llm.SimSearch.buildIvfIndex(embs, nLists = 8,
      lloydIters = 2)
    val pq = graft.llm.SimSearch.buildPqIndex(embs, dims = 64, m = 16,
      codebookSize = 32, lloydIters = 2)
    ivf.assigned.cache(); pq.codes.cache()
    try {
      val probes = (0L until 30L by 10L).toSeq
      val recalls = probes.map { id =>
        val exact = graft.llm.SimSearch.cosineTopK(embs, id, 10)
          .collect().map(_.getLong(0)).toSet
        val got = graft.llm.SimSearch
          .ivfPqTopK(ivf, pq, embs, id, 10, nProbe = 5, rerank = 100)
          .collect().map(_.getLong(0)).toSet
        (got & exact).size.toDouble / exact.size
      }
      val mean = recalls.sum / recalls.size
      // list pruning caps recall at the IVF stage (nProbe 5 of 8 lists);
      // within the scanned lists the PQ+rerank stage is near-lossless
      assert(mean >= 0.8, s"mean recall@10 $mean (per-probe: $recalls)")
    } finally { ivf.assigned.unpersist(); pq.codes.unpersist() }
  }

  test("shared IVF index: per-probe searches equal the compose-per-query form") {
    val embs = Tables.load(spark, sf, "embeddings")
    val index = graft.llm.SimSearch.buildIvfIndex(embs, nLists = 8,
      lloydIters = 2)
    index.assigned.cache()
    try {
      for (id <- Seq(0L, 10L)) {
        val probe = embs.filter(col("vec_id") === id)
          .select(col("embedding").as("probe_e"))
        val viaIndex = graft.llm.SimSearch
          .ivfTopK(index, probe, k = 10, nProbe = 5, exclude = Some(id))
          .collect().map(_.toString).toSeq
        val perQuery = graft.llm.SimSearch
          .trainedIvfTopK(embs, id, 10, nLists = 8, nProbe = 5,
            lloydIters = 2)
          .collect().map(_.toString).toSeq
        assert(viaIndex == perQuery, s"probe $id: index reuse diverged")
      }
    } finally { index.assigned.unpersist(); () }
  }

  /** The block ids a built value's plans hold: the LogicalRDD behind each
    * localCheckpoint and the InMemoryRelation behind each cached frame. */
  private def planIds(dfs: org.apache.spark.sql.DataFrame*): Set[Int] =
    dfs.flatMap(_.queryExecution.withCachedData.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cacheBuilder.cachedColumnBuffers.id
    }).toSet

  // Each block-owning memo: (label, the table its build scans — cached as
  // a bystander that first materializes INSIDE the build window — and a
  // build through the memo's entry point returning the value's block ids)
  private val owningMemos: Seq[(String, String, () => Set[Int])] = Seq(
    ("index", "embeddings", () => {
      val idx = llm.SimSearch.ivfIndexCached(
        Tables.load(spark, sf, "embeddings"), sf + "#ownership",
        nLists = 4, lloydIters = 1)
      planIds(idx.centroids, idx.assigned)
    }),
    ("PairStore", "lineitem", () => planIds(
      operators.PairStore.liCounts(spark, sf),
      operators.PairStore.pairStats(spark, sf))),
    ("simhash signature", "documents", () =>
      planIds(operators.LlmQueries.simhashSigs(spark, sf))),
    ("simhash candidate", "documents", () =>
      planIds(operators.LlmQueries.simhashCands(spark, sf))),
    ("ALS model", "lineitem", () => {
      val m = ml.AlsEngine.trainCachedOnRatingsView(spark, sf,
        ml.AlsEngine.Config(rank = 4, maxIter = 2))
      planIds(m.userFactors, m.itemFactors)
    }),
    ("ratings view", "lineitem", () =>
      planIds(ml.Ratings.viewCached(spark, sf))),
    ("Alg. 1 step", "lineitem", () => {
      val ratings = ml.Ratings.viewCached(spark, sf)
      val cfg = ml.AlsEngine.Config(rank = 4, maxIter = 2)
      val stats = ml.Antidote.userStats(ratings)
      val x0 = ml.Antidote.initHeuristic(spark, ratings, 0.01, stats, None)
      val m = ml.AlsEngine.train(ratings.unionByName(x0), cfg)
      planIds(ml.Antidote.step(spark, ratings, x0, m, stats, cfg, eta = 1e4,
        metric = ml.Metric.IndividualUnfairness))
    }))

  owningMemos.foreach { case (label, table, build) =>
    test(s"$label memo owns exactly its checkpoints: eviction spares " +
        "frames co-cached during the build window") {
      SharedBuild.clearAll()
      // A shared table cache that first MATERIALIZES inside the build
      // window (the build scans this very frame) — the ownership bug was
      // recording it via a persistent-set diff and then freeing it on
      // eviction.
      val bystander = Tables.load(spark, sf, table)
      bystander.cache()
      try {
        val preBuild = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val ids = build()
        bystander.count() // ensure the bystander cache is materialized
        val afterBuild = spark.sparkContext.getPersistentRDDs.keySet.toSet
        assert(ids.nonEmpty && ids.subsetOf(afterBuild),
          s"$label blocks $ids not persisted ($afterBuild)")
        assert(ids.forall(SharedBuild.owns), s"$label blocks $ids not owned")
        val bystanders = afterBuild -- preBuild -- ids
        assert(bystanders.exists(!SharedBuild.owns(_)), "expected the " +
          s"$table cache to materialize inside the build window")
        val kept = bystanders.filterNot(SharedBuild.owns)
        SharedBuild.clearAll()
        val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
        assert((ids & after).isEmpty, s"clearAll must free the $label blocks")
        assert(ids.forall(!SharedBuild.owns(_)),
          s"clearAll must stop owning the $label blocks")
        assert(kept.subsetOf(after),
          s"clearAll freed co-cached frames it never owned: ${kept -- after}")
      } finally { bystander.unpersist(); () }
    }
  }

  test("the base ALS model adds only its two factor checkpoints on a warm ratings view") {
    SharedBuild.clearAll()
    ml.Ratings.viewCached(spark, sf).count()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val m = ml.AlsEngine.trainCachedOnRatingsView(spark, sf,
      ml.AlsEngine.Config(rank = 4, maxIter = 2))
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    val factors = planIds(m.userFactors, m.itemFactors)
    assert(factors.size == 2 && added == factors,
      s"added $added, factor checkpoints $factors")
    SharedBuild.clearAll()
  }

  test("simhash signature blocks belong only to the signature memo") {
    SharedBuild.clearAll()
    val cands = operators.LlmQueries.simhashCands(spark, sf)
    val sigIds = planIds(operators.LlmQueries.simhashSigs(spark, sf))
    assert(sigIds.nonEmpty)
    assert(operators.LlmQueries.simhashSigFrames.ownedIds == sigIds)
    assert((operators.LlmQueries.simhashCandFrames.ownedIds & sigIds).isEmpty,
      "the candidate memo claims the signature memo's blocks")
    assert(operators.LlmQueries.simhashCandFrames.ownedIds == planIds(cands))
    SharedBuild.clearAll()
  }

  test("multi-probe IVF search surfaces the planted nearest neighbor") {
    val embs = Tables.load(spark, sf, "embeddings")
    val all = withPlantedDups(embs).cache()
    val probes = (0L until 50L by 5L).toSeq
    val hits = probes.count { id =>
      val top = graft.llm.SimSearch.multiProbeTopK(all, id, k = 1,
        dims = 64, bits = 16, nProbe = 8, seed = 42L).collect()
      top.nonEmpty && top.head.getLong(0) == id + 1000000L
    }
    assert(hits.toDouble / probes.size >= 0.9, s"top-1 hits $hits/${probes.size}")
  }
}
