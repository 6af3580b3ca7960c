package graft.operators

import graft.QueryDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * Scale design: every near-dup variant is a *bucket join*, never a cross
  * join — candidates are generated by equality on LSH band keys (MinHash
  * bands, SimHash 16-bit chunks, or blocking keys), so the shuffle is
  * hash-partitioned on the band key and total work is sum of bucket^2, not
  * N^2. This is the standard shape that survives a 1000-executor / 100 TB
  * corpus; thresholds only tune candidate density.
  */
object Dedup {

  private def norm(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")
  private val sqlNorm = "REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')"

  /** MinHash/LSH near-duplicate pairs over any (doc_id, text) frame.
    *
    * Three stages, each shuffle-friendly at corpus scale:
    *  1. signature: char-9 shingle hashes once (fnv1a64), then a
    *     single-pass native `minhash_sig` expression produces k=24
    *     minimums; the signature stage is persisted (it feeds four
    *     downstream scans);
    *  2. banding: 8 bands x 3 rows (k=24); docs sharing a band hash become
    *     candidates (equi-join on the band key). The (b=8, r=3) S-curve
    *     puts near-certain recall at the operating threshold — P(share a
    *     band) = 1-(1-j^3)^8 is ~0.99 at j=0.7 and ~0.99997 at j=0.9 —
    *     while pairs below j~0.3 almost never collide; candidate pairs are
    *     additionally pre-filtered by the *estimated* Jaccard (fraction of
    *     agreeing signature slots — cheap, carried inline). At a different
    *     corpus/threshold, retune (b, r) along the same S-curve.
    *  3. exact verification: only surviving pairs re-join their shingle
    *     sets for the exact intersect/union ratio.
    *
    * Output is exhaustive in practice at the operating threshold but is
    * formally a candidate subset (LSH recall < 1); the d03 oracle checks it
    * against the exact all-pairs ground truth on the fixed fixtures.
    */
  def minhashPairs(docsIn: DataFrame, minJaccard: Double): DataFrame = {
    val spark = docsIn.sparkSession
    val k = 24; val bands = 8; val rows = k / bands
    val normShingles =
      "shingle_hashes(regexp_replace(lower(trim(text)), '\\\\s+', ' '), 9)"
    // The signature stage feeds both sides of the banded self-join.
    // Materialize it once with an eager localCheckpoint — shingling +
    // minhashing the corpus once instead of twice is the dominant cost, and
    // at production scale this is the materialized signature table every
    // MinHash pipeline writes. ONLY (doc_id, sig) is checkpointed (~200 B
    // per doc): an earlier version also checkpointed the raw shingle
    // arrays for the exact-verify stage (~8 B per CHARACTER of the whole
    // corpus — ~6 GB at sf30), and two runs' worth of those blocks in
    // flight thrashed the 8 GB heap (71 s first run vs 16 s steady).
    // Exact verification instead RE-shingles just the candidate docs — a
    // tiny subset — via a broadcast semi-ish join over the corpus scan.
    // Unlike CacheManager persist() (which accumulates entries per
    // logical plan until an explicit unpersist), the checkpointed RDD is
    // scoped to this DataFrame and released by the ContextCleaner when it
    // goes out of scope — no cache-entry buildup in long-lived sessions.
    val sig = docsIn.select(col("doc_id"),
      expr(s"minhash_sig($normShingles, $k)").as("sig"))
      .localCheckpoint()
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          xxhash64(lit(b) +: (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*).as("bh"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bh"))
    val estMin = math.max(minJaccard - 0.15, 0.0)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("minhash_est(a.sig, b.sig)").as("est"))
      .filter(col("est") >= estMin)
      .select(col("id1"), col("id2"))
      .distinct()
      .localCheckpoint() // candidate ids are read twice below (tiny)
    // Re-shingle ONLY the candidate docs: the candidate-id set broadcasts,
    // the corpus streams through the hash join, and shingles materialize
    // just for the joined survivors.
    def candSide(idCol: String) = docsIn
      .join(broadcast(cand.select(col(idCol).as("cid")).distinct()),
        col("doc_id") === col("cid"))
      .select(col("doc_id").as(idCol), expr(normShingles).as(s"sh_$idCol"))
    cand
      .join(candSide("id1"), "id1")
      .join(candSide("id2"), "id2")
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("sh_id1"), col("sh_id2"))).cast(DoubleType) /
          size(array_union(col("sh_id1"), col("sh_id2")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Band layout for a SimHash corpus of `n` docs: (numBands, bandBits,
    * shifts). The LSH join's cost is Σ bucket², and with the band-key
    * space FIXED at 2^16 the mean occupancy — and so the join — grows
    * quadratically with corpus size (measured: d04 83.7 s at sf100 /
    * 3 M docs, 55 % of the whole pipeline suite, vs linear everywhere
    * below 1 M). The key width must therefore scale with the corpus:
    * bandBits = log2(n / targetOccupancy) keeps mean bucket size at the
    * target regardless of n, and the band count is whatever still fits in
    * the 64-bit signature (floor(64/bandBits), capped at 4). Bands spread
    * evenly across the word so the last band ends at bit 63.
    *
    * Below ~1 M docs this resolves to exactly the historical 4 x 16-bit
    * layout (all driver fixtures, the sf0.01 oracle, and sf10 unchanged);
    * at sf100's 5 M docs it widens to 3 x 19-bit — mean occupancy drops
    * ~76 -> ~10 and the pigeonhole guarantee relaxes from Hamming<=3 to
    * <=2, still inside the documented candidate-subset contract. */
  private[graft] def simhashBandLayout(n: Long, targetOcc: Long = 16L)
      : (Int, Int, Seq[Int]) = {
    // ceil(log2(m)) computed EXACTLY as the bit length of m-1 (round-12
    // advice: the previous floating-point log could differ by an ulp from
    // the oracle's LOG2 replay precisely when m is a power of two, giving
    // the two sides different band widths). The oracle mirrors this with
    // LENGTH(BIN(m-1)); both are pure integer arithmetic now.
    val m = math.max(1L, n / targetOcc)
    val bandBits = math.max(16,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, m - 1))) min 31
    val numBands = math.max(2, math.min(4, 64 / bandBits))
    val shifts = (0 until numBands)
      .map(b => b * (64 - bandBits) / math.max(1, numBands - 1))
    (numBands, bandBits, shifts)
  }

  /** SimHash near-dup pairs (banded Hamming join) over any (doc_id, text)
    * frame. Needs a session carrying [[graft.GraftExtensions]] (simhash64).
    *
    * CONTRACT: banding the 64-bit signature into B keys of W bits
    * guarantees a shared band only for pairs within Hamming distance B-1
    * (pigeonhole); for maxHamming > B-1 the output is a CANDIDATE SUBSET
    * of the true pair set, not an exhaustive enumeration. The band layout
    * is corpus-size-adaptive (see [[simhashBandLayout]]): 4 x 16-bit up to
    * ~2 M docs (B-1 = 3), wider keys / fewer bands above so the bucket
    * join stays linear in n. Measured on the fixtures, true near-dups
    * (char-9-gram Jaccard >= 0.5) span Hamming 0–13 while unrelated pairs
    * start around 4, so a SimHash-only pass is a recall/precision trade —
    * production use should feed these candidates to an exact-verification
    * join (as minhashPairs stage 3 does). GraftSpec asserts the
    * planted-duplicate recall invariant. */
  def simhashPairs(docsIn: DataFrame, maxHamming: Int,
      corpusSize: Option[Long] = None): DataFrame = {
    // corpus size drives the band layout. The default sizing count() over
    // the id column is metadata-light for a parquet-backed frame, but for
    // a DERIVED input (filtered/joined) it replays the lineage once more —
    // callers that know the size (staged-table stats, a prior count)
    // should pass it; output shape is a pure function of the passed size
    // via simhashBandLayout, so a hint also pins the layout across
    // retries of a non-deterministic upstream.
    val (_, bandBits, shifts) =
      simhashBandLayout(corpusSize.getOrElse(docsIn.count()))
    val mask = (1L << bandBits) - 1L
    val docs = docsIn.select(col("doc_id"),
      expr("simhash64(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '))")
        .as("sim"))
    val banded = docs.select(col("doc_id"), col("sim"),
      explode(array(shifts.zipWithIndex.map { case (sh, b) =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sim"), sh).bitwiseAND(lit(mask)).as("key"))
      }: _*))
        .as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band"), col("bk.key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected-components clustering of near-dup PAIRS into dedup groups:
    * the missing last stage of a production dedup pipeline (pairs alone
    * don't say which docs to drop — transitive closure does: A~B, B~C puts
    * all three in one group even when A~C was never emitted).
    *
    * Algorithm: iterative min-label propagation over the edge list — every
    * node starts labeled with its own id; each round a node takes the
    * minimum label among itself and its neighbors; fixpoint = each label is
    * the component's minimum doc_id. Each round is one hash shuffle of the
    * EDGE list (join on node id) + one aggregation — no driver-side graph,
    * no adjacency materialization. Rounds needed = component diameter,
    * which for near-dup clusters is tiny (they are clique-ish: the pair
    * generator emits most intra-cluster pairs directly). `localCheckpoint`
    * per round truncates the growing lineage — the standard guard for
    * iterative DataFrame algorithms; at 100 TB the edge list (near-dup
    * pairs) is orders of magnitude smaller than the corpus, so the loop
    * costs a few small shuffles after the one expensive pair-generation
    * pass.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // undirected: propagate labels both ways
    val adj = edges.select(col("id1").as("src"), col("id2").as("dst"))
      .union(edges.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < 50) {
      val neighborMin = adj
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("nlbl"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl")))
          .as("lbl"), col("lbl").as("prev"))
        .localCheckpoint()
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels = next.select(col("id"), col("lbl"))
      round += 1
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on the raw text (GlareDB would express this
    // as GROUP BY; at scale it is a single hash shuffle on the md5 key).
    "d01_dedup_exact" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast(BinaryType)).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy("fp")
    },

    "d02_dedup_norm" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(norm(col("text")).cast(BinaryType)).as("fp"))
        // doc_ids serialized to JSON text so the driver harness can hash it
        // (pandas cannot factorize ndarray cells).
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"),
          to_json(sort_array(collect_list(col("doc_id")))).as("doc_ids"))
        .orderBy("fp")
    },

    // MinHash + LSH banding: char-9-shingles -> 24 minhashes -> 8 bands
    // of 3. (9-char shingles matter: 5-char shingles are low-entropy, so
    // ubiquitous shingles dominate the minima — band buckets degenerate
    // into huge cliques and estimated Jaccard inflates for unrelated
    // pairs. At 9 chars the fixture separates planted dups at j>=0.92
    // from noise at j<=0.14.) Docs sharing any band bucket become
    // candidate pairs; exact Jaccard over shingle sets filters false
    // positives. Oracle: exact all-pairs char-9-gram Jaccard in DuckDB
    // (feasible at fixture scale;
    // hashed-shingle Jaccard == string-shingle Jaccard modulo 64-bit
    // collisions).
    "d03_minhash_pairs" -> { (s, dir) =>
      minhashPairs(t(s, dir, "documents"), 0.5)
        .orderBy(desc("jaccard"), asc("id1"), asc("id2"))
        .limit(200)
    },

    // SimHash near-dup: 64-bit signature via the native simhash64
    // expression; corpus-size-adaptive band keys (4x16-bit at fixture
    // scale — a shared band within Hamming distance 3; wider keys at
    // multi-million-doc corpora, see simhashBandLayout) — beyond the
    // pigeonhole bound the output is a candidate SUBSET
    // (see simhashPairs contract). Oracle: the FNV-1a-64 word hash and the
    // vote loop are replayed exactly in DuckDB SQL (HUGEINT arithmetic
    // mod 2^64; fixtures are ASCII so ord(char) == byte), so the full
    // band-join pipeline — signatures, 16-bit band keys, Hamming
    // distance — is value-checked end to end, not just spec-checked.
    "d04_simhash_pairs" -> { (s, dir) =>
      simhashPairs(t(s, dir, "documents"), 16)
        .orderBy(asc("hamming"), asc("id1"), asc("id2"))
        .limit(200)
    },

    // Word 3-gram Jaccard within blocking keys (lang, length band):
    // blocked pairs only — no global cross join.
    "d05_ngram_jaccard" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          split(norm(col("text")), " ").as("words"))
        .withColumn("ngrams", array_distinct(transform(
          sequence(lit(1), greatest(size(col("words")) - 2, lit(1))),
          i => concat_ws(" ", slice(col("words"), i, lit(3))))))
        .withColumn("blk", floor(size(col("words")) / 4))
      docs.as("a")
        .join(docs.as("b"),
          col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          (size(array_intersect(col("a.ngrams"), col("b.ngrams"))).cast(DoubleType) /
            size(array_union(col("a.ngrams"), col("b.ngrams")))).as("jaccard"))
        .filter(col("jaccard") > 0)
        .orderBy(desc("jaccard"), asc("id1"), asc("id2"))
        .limit(200)
    },

    // Corpus-frequency boilerplate detection (the RefinedWeb/CCNet
    // line-dedup shape; fixture text is single-line, so fixed 10-word
    // chunks stand in for lines). Chunking is a pure column expression
    // (no shuffle); chunk frequency is one combinable hash agg on the
    // chunk key; the join back is a shuffle join on the same key, so at
    // 100 TB the only wide stages are keyed on chunk text — no N^2, no
    // driver state. Chunks appearing in >= 3 distinct docs are flagged
    // as boilerplate and each doc reports its contamination ratio.
    "d08_chunk_dedup" -> { (s, dir) =>
      val words = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(1L), ceil(size(words) / lit(10.0))),
        i => concat_ws(" ", slice(words, ((i - lit(1L)) * 10 + 1).cast(IntegerType), lit(10))))
      val ch = t(s, dir, "documents")
        .select(col("doc_id"), explode(chunks).as("chunk"))
      val freq = ch.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") >= 3, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
          round(col("n_boiler").cast(DoubleType) / col("n_chunks"), 6)
            .as("boiler_ratio"))
        .orderBy("doc_id")
    },

    // End-to-end dedup: MinHash/LSH pairs (the d03 pipeline) -> connected
    // components -> one keep/drop decision per document. cluster_id is the
    // component's min doc_id (the canonical survivor); the oracle computes
    // the same closure from the EXACT all-pairs ground truth with a
    // recursive CTE, so this also re-proves the LSH pair set is exhaustive
    // at the 0.5 threshold on the fixtures.
    "d07_dedup_clusters" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = minhashPairs(docs, 0.5).select(col("id1"), col("id2"))
      val cc = connectedComponents(docs, pairs)
      val sizes = cc.groupBy(col("cluster_id").as("cid"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, col("cluster_id") === col("cid"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    })

  /** Exact all-pairs ground truth in DuckDB SQL: distinct char-9-gram
    * Jaccard (mirrors `SketchKernels.shingleHashes(_, 9)`: sliding window
    * of 9 bytes over the whitespace-normalized text; whole string when
    * shorter). Feasible in the oracle because fixtures are small; the Spark
    * side stays the bucketed LSH plan that scales. */
  private def pairsTruthSql(selectList: String, orderBy: String): String = s"""
      WITH d AS (
        SELECT doc_id, $sqlNorm AS t FROM documents),
      s AS (
        SELECT doc_id,
          CASE WHEN LEN(t) <= 9 THEN [t]
               ELSE LIST_DISTINCT(LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(t) - 8), i -> t[i:i+8])) END AS sh
        FROM d),
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) /
            LEN(LIST_DISTINCT(a.sh || b.sh)) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT $selectList FROM p WHERE jaccard >= 0.5
      ORDER BY $orderBy LIMIT 200"""

  val oracles: Map[String, String] = Map(
    // Exact replay of the SimHash pipeline in SQL: FNV-1a-64 per word via
    // list_reduce over character codes (HUGEINT, wrap at 2^64 — validated
    // bit-exact against the JVM kernel on the fixtures), per-bit vote sums,
    // corpus-size-adaptive band self-join (the `layout` CTE replays
    // simhashBandLayout's integer arithmetic, so the oracle tracks the
    // Spark side at ANY scale, not just the fixture's 4x16-bit regime),
    // popcount Hamming. Mirrors `SketchKernels.{fnv1a64,simhash64}` and
    // `Dedup.simhashPairs`.
    "d04_simhash_pairs" -> s"""
      WITH d AS (
        SELECT doc_id, $sqlNorm AS t FROM documents),
      w AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(t, ' ')) AS word FROM d),
      h AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
            list_transform(generate_series(1, len(word)),
              i -> CAST(ord(word[i]) AS HUGEINT))), (acc, b) ->
              (xor(acc, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS wh
        FROM w),
      bits AS (
        SELECT doc_id, bb.b AS bit,
          SUM(CASE WHEN (wh // (CAST(1 AS HUGEINT) << bb.b)) % 2 = 1
                   THEN 1 ELSE -1 END) AS votes
        FROM h CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b) bb
        GROUP BY doc_id, bb.b),
      sim AS (
        SELECT doc_id,
          SUM(CASE WHEN votes > 0 THEN CAST(1 AS HUGEINT) << bit
                   ELSE CAST(0 AS HUGEINT) END) AS sim
        FROM bits GROUP BY doc_id),
      layout AS (
        -- same corpus-size-adaptive band layout as Dedup.simhashBandLayout
        -- (integer arithmetic replayed exactly): bits = clamp(bitlen(
        -- (n div 16) - 1), 16, 31) -- i.e. ceil(log2) via LENGTH(BIN(m-1)),
        -- never floating-point LOG2 (an ulp at exact powers of two would
        -- desync the two sides; round-12 advice) -- bands = clamp(64 div
        -- bits, 2, 4), shift(b) = b*(64-bits) div (bands-1). At any fixture
        -- scale (< ~2M docs) this resolves to the historical 4x16 layout.
        SELECT bits, GREATEST(2, LEAST(4, 64 // bits)) AS nb FROM (
          SELECT LEAST(31, GREATEST(16, LENGTH(BIN(GREATEST(1,
            (SELECT COUNT(*) FROM documents) // 16) - 1)))) AS bits)),
      bandspec AS (
        SELECT bits, nb, UNNEST(GENERATE_SERIES(0, nb - 1)) AS b FROM layout),
      banded AS (
        SELECT doc_id, sim, bs.b AS band,
          (sim // (CAST(1 AS HUGEINT) << (bs.b * (64 - bs.bits) // (bs.nb - 1))))
            % (CAST(1 AS HUGEINT) << bs.bits) AS key
        FROM sim CROSS JOIN bandspec bs),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          CAST(len(list_filter(generate_series(0, 63),
            bb -> (xor(a.sim, b.sim) // (CAST(1 AS HUGEINT) << bb)) % 2 = 1)) AS INT)
            AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT id1, id2, hamming FROM pairs WHERE hamming <= 16
      ORDER BY hamming, id1, id2 LIMIT 200""",

    "d03_minhash_pairs" ->
      pairsTruthSql("id1, id2, jaccard", "jaccard DESC, id1, id2"),

    // Transitive closure of the exact >=0.5 pair truth via recursive
    // label-spreading: walk(id, lbl) holds every (node, label of a node in
    // the same component) pair; MIN(lbl) = the component's min doc_id.
    "d07_dedup_clusters" -> s"""
      WITH RECURSIVE d AS (
        SELECT doc_id, $sqlNorm AS t FROM documents),
      s AS (
        SELECT doc_id,
          CASE WHEN LEN(t) <= 9 THEN [t]
               ELSE LIST_DISTINCT(LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(t) - 8), i -> t[i:i+8])) END AS sh
        FROM d),
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) /
              LEN(LIST_DISTINCT(a.sh || b.sh)) >= 0.5),
      e AS (
        SELECT id1 AS src, id2 AS dst FROM p
        UNION ALL SELECT id2, id1 FROM p),
      walk(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id),
      cl AS (
        SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY id)
      SELECT doc_id, cluster_id,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        doc_id = cluster_id AS keep
      FROM cl ORDER BY doc_id""",

    "d08_chunk_dedup" -> """
      WITH words AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
      chunked AS (
        SELECT doc_id,
          LIST_TRANSFORM(RANGE(1, CAST(CEIL(LEN(w)/10.0) AS BIGINT)+1),
            i -> ARRAY_TO_STRING(w[(i-1)*10+1 : i*10], ' ')) AS cs
        FROM words),
      chunks AS (
        SELECT doc_id, UNNEST(cs) AS chunk FROM chunked),
      freq AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chunk)
      SELECT c.doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN f.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        ROUND(SUM(CASE WHEN f.n_docs >= 3 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
          AS boiler_ratio
      FROM chunks c JOIN freq f USING (chunk)
      GROUP BY c.doc_id ORDER BY c.doc_id""",

    "d01_dedup_exact" -> """
      SELECT MD5(text) AS fp, COUNT(*) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS keep_id
      FROM documents GROUP BY MD5(text) ORDER BY fp""",

    "d02_dedup_norm" -> s"""
      SELECT MD5($sqlNorm) AS fp, COUNT(*) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS keep_id,
             CAST(TO_JSON(LIST(doc_id ORDER BY doc_id)) AS VARCHAR) AS doc_ids
      FROM documents GROUP BY MD5($sqlNorm) ORDER BY fp""",

    "d05_ngram_jaccard" -> """
      WITH d AS (
        SELECT doc_id, lang,
          STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ')
            AS words
        FROM documents),
      g AS (
        SELECT doc_id, lang, LEN(words) AS nw,
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(words)-2, 1)),
            i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS ngrams
        FROM d),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(LEN(LIST_INTERSECT(a.ngrams, b.ngrams)) AS DOUBLE) /
            LEN(LIST_DISTINCT(a.ngrams || b.ngrams)) AS jaccard
        FROM g a JOIN g b
          ON a.lang = b.lang AND (a.nw // 4) = (b.nw // 4) AND a.doc_id < b.doc_id)
      SELECT id1, id2, jaccard FROM pairs WHERE jaccard > 0
      ORDER BY jaccard DESC, id1, id2 LIMIT 200""")
}
