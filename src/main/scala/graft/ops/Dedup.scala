package graft.ops

import graft.{Q, Tables}
import graft.expr.{HammingDistance, VectorOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deduplication operators for the LLM-data-pipeline mandate
  * (BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup. Every variant is shuffle-based
  * (explode → hash-join on shingle/bucket keys), never an all-pairs
  * cross join, so the same plan holds at 100 TB: candidate generation is
  * O(rows × shingles) with joins only inside buckets. */
object Dedup {

  /** Bigram shingles from an already-materialized token-array column,
    * distinct. Guarded for <2 tokens (sequence(1,0) would count down).
    * `words` must be a plain column reference — passing `split(...)`
    * directly would re-split the text per element access inside the
    * lambda (O(words²) per doc). */
  private def bigramShingles(words: Column): Column =
    array_distinct(TextFns.wordGrams(words, 2))

  /** One literal mask per bit position (shift-by-column isn't a thing in
    * functions._, masks are). */
  private def bitMasks = typedlit((0 until 64).map(b => 1L << b))

  /** 64-bit SimHash of the token multiset: per bit, sign of the sum of
    * ±1 votes from each token's xxhash64. The fold runs over the
    * PRE-HASHED array (transform once) — voting on `xxhash64(w)` inside
    * the per-mask lambda would hash every token 64 times. */
  private def simhash64(words: Column): Column = {
    val votes = aggregate(
      transform(words, w => xxhash64(w)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(
        acc,
        transform(bitMasks, m =>
          when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, bitMasks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  def defs: Seq[Q] = Seq(

    Q(
      "dedup_exact_key",
      "Exact dedup by key with a deterministic survivor (min doc_id via " +
        "row_number — dropDuplicates keeps an arbitrary row, so the " +
        "window form is the reproducible one).",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val w = Window.partitionBy("lang", "source").orderBy("doc_id")
        d.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("lang", "source", "doc_id", "n_chars")
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, doc_id, n_chars FROM (
          SELECT lang, source, doc_id, n_chars,
            row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1 ORDER BY lang, source""")),

    Q(
      "dedup_exact_distinct",
      "Exact dedup of a projection (hash-groupBy distinct).",
      (s, dir) => {
        Tables.t(s, dir, "documents")
          .select("lang", "source").distinct()
          .orderBy("lang", "source")
      },
      Some("""SELECT DISTINCT lang, source FROM documents ORDER BY lang, source""")),

    Q(
      "dedup_incremental",
      "Incremental dedup of a NEW batch against a historical " +
        "fingerprint store — the shape of continuous training-data " +
        "ingestion, where yesterday's corpus is a (fingerprint) table " +
        "and only novel documents may enter. Fingerprint = md5 of the " +
        "sorted distinct token set (canonical bag-of-words: token " +
        "order and repetition don't defeat it). Historical = sources " +
        "src0-src4; a batch doc survives iff its fingerprint is absent " +
        "from the store (left ANTI join) AND it is the min-doc_id " +
        "holder of that fingerprint within the batch (window rank — " +
        "batch-internal dedup in the same pass). At scale the store is " +
        "a parquet table of fingerprints only — bytes per historical " +
        "doc, one equi-join on the hash key, no text ever re-read.",
      (s, dir) => {
        val hist = Seq("src0", "src1", "src2", "src3", "src4")
        val fp = md5(array_join(
          sort_array(array_distinct(split(col("text"), " "))), " "))
        val d = Tables.t(s, dir, "documents").withColumn("fp", fp)
        val store = d.filter(col("source").isInCollection(hist))
          .select("fp").distinct()
        val batch = d.filter(!col("source").isInCollection(hist))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        batch.join(store, Seq("fp"), "left_anti")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("source"), col("fp"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
          SELECT doc_id, source,
            md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))),
              'string_agg', ' ')) AS fp
          FROM documents),
        store AS (SELECT DISTINCT fp FROM f
          WHERE source IN ('src0','src1','src2','src3','src4')),
        batch AS (SELECT * FROM f
          WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        novel AS (
          SELECT b.doc_id, b.source, b.fp,
            row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
          FROM batch b ANTI JOIN store s ON b.fp = s.fp)
        SELECT doc_id, source, fp FROM novel WHERE rn = 1 ORDER BY doc_id""")),

    Q(
      "dedup_incremental_minhash",
      "Incremental NEAR-dup dedup of a new batch against a persisted " +
        "MinHash band/bucket index — the continuous-ingestion story " +
        "dedup_incremental covers only for exact hashes. The store is " +
        "the historical corpus's (band, key) table: 8 rows per doc, " +
        "bytes each, no text — the thing a production pipeline keeps " +
        "as a parquet table between batches (DedupSpec round-trips it " +
        "through parquet). A batch doc is rejected iff any of its 8 " +
        "band keys hits the store (left ANTI equi-join on the key) or " +
        "an earlier batch doc shares a band key (self equi-join with a " +
        "doc_id precedence — batch-internal near-dedup in the same " +
        "pass). Portable md5 hash path, so DuckDB replays every " +
        "signature, band key, and both joins.",
      (s, dir) => {
        val hist = Seq("src0", "src1", "src2", "src3", "src4")
        val docs = Tables.t(s, dir, "documents").filter(col("doc_id") < 400)
        // banded feeds the store AND the batch, and the batch side is
        // probed three ways downstream: uncut, the r18 plan audit
        // showed the 32-hash band-index subtree replicated into 20
        // document scans (guide §1.2); the index is 8 tiny rows per
        // doc, the exact table a production pipeline persists anyway
        val banded = portableBandIndex(docs)
          .join(docs.select("doc_id", "source"), "doc_id")
          .transform(Skew.cut)
        val store = banded.filter(col("source").isInCollection(hist))
          .select("band", "key").distinct()
        val batch = banded.filter(!col("source").isInCollection(hist))
        incrementalMinhash(batch, store).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tokens
          FROM documents WHERE doc_id < 400),
        ex AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
        hashed AS (
          SELECT doc_id, p,
            ${PortableHash.hexHashSql("CAST(p AS VARCHAR) || ':' || token")} AS h
          FROM ex CROSS JOIN (SELECT unnest(range(32)) AS p)),
        sigs AS (SELECT doc_id, p, min(h) AS m FROM hashed GROUP BY 1, 2),
        banded AS (
          SELECT s.doc_id, CAST(p // 4 AS INT) AS band,
            string_agg(CAST(m AS VARCHAR), ',' ORDER BY p) AS key, any_value(t.source) AS source
          FROM sigs s JOIN toks t USING (doc_id) GROUP BY 1, 2),
        store AS (SELECT DISTINCT band, key FROM banded
          WHERE source IN ('src0','src1','src2','src3','src4')),
        batch AS (SELECT * FROM banded
          WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        hit_store AS (SELECT DISTINCT b.doc_id FROM batch b
          JOIN store s ON b.band = s.band AND b.key = s.key),
        hit_earlier AS (SELECT DISTINCT a.doc_id FROM batch a
          JOIN batch b ON a.band = b.band AND a.key = b.key AND b.doc_id < a.doc_id)
        SELECT DISTINCT doc_id, source FROM batch
        WHERE doc_id NOT IN (SELECT doc_id FROM hit_store)
          AND doc_id NOT IN (SELECT doc_id FROM hit_earlier)
        ORDER BY doc_id""")),

    Q(
      "dedup_cdf_incremental",
      "CHANGE-FEED-DRIVEN incremental dedup — THE production shape for " +
        "continuous corpus curation at 100 TB: the corpus lives in a " +
        "merge-on-read docstore (v2 = historical load, v3 = retention " +
        "DELETE as deletion vectors, v4 = new-batch append), a band " +
        "store is built ONCE from the v2 snapshot, and the consumer " +
        "processes `changes(2, 4)` instead of ever rescanning the " +
        "table: delete rows TOMBSTONE their doc's (band, key) entries, " +
        "insert rows run through the incremental minhash probe " +
        "(equi-joins on band keys, batch-internal precedence). The " +
        "result provably equals the full-corpus recompute — the oracle " +
        "IS that recompute (store from surviving history only, same " +
        "banding, same probes) — while the consumer touched only the " +
        "delta: O(changes), not O(corpus), and compaction commits " +
        "would contribute zero change rows. Composes the r16 change " +
        "feed with the persisted band store of " +
        "dedup_incremental_minhash; MergeOnReadSpec pins that the " +
        "DELETE rewrote no data file.",
      (s, dir) => {
        import graft.sources.DocStoreChanges
        val hist = Seq("src0", "src1", "src2", "src3", "src4")
        val root = graft.Scratch.once("graft_cdfdedup_root") { _ => () }
        val ns = "db" + math.abs(dir.hashCode).toString
        if (s.conf.getOption("spark.sql.catalog.graftcdf").isEmpty) {
          s.conf.set("spark.sql.catalog.graftcdf", "graft.sources.DocStoreCatalog")
          s.conf.set("spark.sql.catalog.graftcdf.root", root)
        }
        graft.Scratch.once(s"dedup_cdf_incremental:$dir") { _ =>
          s.sql(s"CREATE NAMESPACE IF NOT EXISTS graftcdf.$ns")
          s.sql(s"""CREATE TABLE graftcdf.$ns.docs_cdf
            (doc_id BIGINT, source STRING, text STRING)
            USING docstore TBLPROPERTIES ('rowlevel'='mor')""") // v1: empty
          Tables.t(s, dir, "documents").filter(col("doc_id") < 400)
            .filter(col("source").isInCollection(hist))
            .select(col("doc_id").cast("bigint").as("doc_id"),
              col("source"), col("text"))
            .writeTo(s"graftcdf.$ns.docs_cdf").append() // v2: history
          s.sql(s"DELETE FROM graftcdf.$ns.docs_cdf WHERE doc_id % 7 = 0") // v3: rowdelta
          Tables.t(s, dir, "documents").filter(col("doc_id") < 400)
            .filter(!col("source").isInCollection(hist))
            .select(col("doc_id").cast("bigint").as("doc_id"),
              col("source"), col("text"))
            .writeTo(s"graftcdf.$ns.docs_cdf").append() // v4: the batch
        }
        val path = s"$root/$ns/docs_cdf"
        // band store built once, from the v2 snapshot (doc-attributed
        // so a delete can tombstone exactly its doc's keys)
        val histDocs = s.read.format("docstore").option("path", path)
          .option("versionAsOf", "2").load()
        val store0 = portableBandIndex(histDocs.select("doc_id", "text"))
          .select("doc_id", "band", "key")
        // the consumer's ONLY corpus read after v2: the change feed
        val ch = DocStoreChanges.changes(s, path, 2, 4)
        val deletedIds = ch.filter(col("_change_type") === "delete")
          .select("doc_id").distinct()
        val store = store0.join(deletedIds, Seq("doc_id"), "left_anti")
          .select("band", "key").distinct()
        val inserts = ch.filter(col("_change_type") === "insert")
          .select("doc_id", "source", "text")
        val batch = portableBandIndex(inserts.select("doc_id", "text"))
          .join(inserts.select("doc_id", "source"), "doc_id")
        incrementalMinhash(batch, store).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tokens
          FROM documents WHERE doc_id < 400),
        ex AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
        hashed AS (
          SELECT doc_id, p,
            ${PortableHash.hexHashSql("CAST(p AS VARCHAR) || ':' || token")} AS h
          FROM ex CROSS JOIN (SELECT unnest(range(32)) AS p)),
        sigs AS (SELECT doc_id, p, min(h) AS m FROM hashed GROUP BY 1, 2),
        banded AS (
          SELECT s.doc_id, CAST(p // 4 AS INT) AS band,
            string_agg(CAST(m AS VARCHAR), ',' ORDER BY p) AS key, any_value(t.source) AS source
          FROM sigs s JOIN toks t USING (doc_id) GROUP BY 1, 2),
        store AS (SELECT DISTINCT band, key FROM banded
          WHERE source IN ('src0','src1','src2','src3','src4')
            AND doc_id % 7 <> 0),
        batch AS (SELECT * FROM banded
          WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        hit_store AS (SELECT DISTINCT b.doc_id FROM batch b
          JOIN store s ON b.band = s.band AND b.key = s.key),
        hit_earlier AS (SELECT DISTINCT a.doc_id FROM batch a
          JOIN batch b ON a.band = b.band AND a.key = b.key AND b.doc_id < a.doc_id)
        SELECT DISTINCT doc_id, source FROM batch
        WHERE doc_id NOT IN (SELECT doc_id FROM hit_store)
          AND doc_id NOT IN (SELECT doc_id FROM hit_earlier)
        ORDER BY doc_id""")),

    Q(
      "dedup_ngram_jaccard",
      "Near-dup detection by bigram-shingle Jaccard, top-50 pairs. " +
        "Scalable shape: explode shingles → self-equi-join on shingle → " +
        "count intersections → sizes join (|A∪B| = |A|+|B|−|A∩B|). " +
        "The self-join routes through Skew.saltedJoinHot (threshold 20 " +
        "docs), so stopword-ish hot shingles are salted 8 ways instead " +
        "of pinning one reducer — active on this fixture (max df 23) " +
        "and semantics-preserving (same oracle). Jaccard is a single " +
        "division of identical integers in both engines, so ordering " +
        "on it is exact.",
      (s, dir) => ngramJaccard(
        Tables.t(s, dir, "documents").filter(col("doc_id") < 200),
        topK = 50, hotThreshold = 20),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 200),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS shingles FROM w),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, inter, sa.n + sb.n - inter AS un,
          CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        ORDER BY jaccard DESC, d1, d2 LIMIT 50""")),

    Q(
      "dedup_containment",
      "Asymmetric near-dup by bigram-shingle CONTAINMENT — the case " +
        "Jaccard misses: a short document pasted inside a long one has " +
        "low Jaccard (union is large) but containment |A∩B|/|A| near 1. " +
        "Same salted candidate-generation stage as dedup_ngram_jaccard " +
        "(explode → hot-salted equi-join → intersection counts), then " +
        "both directed ratios per pair; a pair survives when either " +
        "direction clears 0.6. Each ratio is one division of identical " +
        "integers in both engines, so filtering and ordering on it is " +
        "exact.",
      (s, dir) => {
        val stats = ngramJaccardStats(
          Tables.t(s, dir, "documents").filter(col("doc_id") < 200),
          hotThreshold = 20)
        stats
          .withColumn("c_fwd", round(col("inter").cast("double") / col("na"), 4))
          .withColumn("c_rev", round(col("inter").cast("double") / col("nb"), 4))
          .filter(greatest(col("c_fwd"), col("c_rev")) >= 0.6)
          .select(col("d1"), col("d2"), col("inter"), col("na"), col("nb"),
            col("c_fwd"), col("c_rev"))
          .orderBy(greatest(col("c_fwd"), col("c_rev")).desc, col("d1"), col("d2"))
          .limit(50)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 200),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS shingles FROM w),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        c AS (SELECT d1, d2, inter, sa.n AS na, sb.n AS nb,
            round(CAST(inter AS DOUBLE) / sa.n, 4) AS c_fwd,
            round(CAST(inter AS DOUBLE) / sb.n, 4) AS c_rev
          FROM pairs
          JOIN sizes sa ON sa.doc_id = d1
          JOIN sizes sb ON sb.doc_id = d2)
        SELECT d1, d2, inter, na, nb, c_fwd, c_rev FROM c
        WHERE greatest(c_fwd, c_rev) >= 0.6
        ORDER BY greatest(c_fwd, c_rev) DESC, d1, d2 LIMIT 50""")),

    Q(
      "dedup_components",
      "Near-dup clustering: Jaccard pairs (>= 0.10) as an undirected " +
        "graph, connected components by iterative min-label propagation " +
        "(converged, lineage-truncated per round), component = min doc " +
        "id, keep = survivor flag. Oracle: DuckDB recursive CTE over " +
        "the same pairs. This is the pairs → clusters → survivors step " +
        "every production dedup pipeline needs between candidate " +
        "generation and the actual drop.",
      (s, dir) => {
        val stats = ngramJaccardStats(
          Tables.t(s, dir, "documents").filter(col("doc_id") < 200),
          hotThreshold = 20)
        val edges = stats.filter(col("jaccard") >= 0.10)
          .select(col("d1").as("src"), col("d2").as("dst"))
        connectedComponents(edges)
          .select(col("node"), col("component"), col("keep"))
          .orderBy("node")
      },
      Some("""WITH RECURSIVE
        w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 200),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS shingles FROM w),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        p0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (SELECT d1, d2
          FROM p0 JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.10),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        r(node, lbl) AS (SELECT node, node FROM nodes
          UNION SELECT e.b, r.lbl FROM edges e JOIN r ON e.a = r.node)
        SELECT node, min(lbl) AS component, node = min(lbl) AS keep
        FROM r GROUP BY node ORDER BY node""")),

    Q(
      "dedup_cluster_stats",
      "Duplicate-cluster size distribution — the observability report " +
        "every production dedup run emits before anything is dropped " +
        "(how much duplication is there, and is it a few giant " +
        "near-dup families or many small pairs?): the same Jaccard " +
        "pairs and min-label components as dedup_components, reduced " +
        "to cluster sizes, then a histogram of sizes with the doc and " +
        "removable-doc totals per bucket (removable = all but the one " +
        "survivor each cluster keeps). Two tiny keyed aggregations " +
        "after the components fixpoint — the stats table is " +
        "O(distinct cluster sizes) however large the corpus.",
      (s, dir) => {
        val stats = ngramJaccardStats(
          Tables.t(s, dir, "documents").filter(col("doc_id") < 200),
          hotThreshold = 20)
        val edges = stats.filter(col("jaccard") >= 0.10)
          .select(col("d1").as("src"), col("d2").as("dst"))
        connectedComponents(edges)
          .groupBy("component").agg(count(lit(1)).as("csize"))
          .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
          .select(col("csize"), col("n_clusters"),
            (col("csize") * col("n_clusters")).as("n_docs"),
            ((col("csize") - 1) * col("n_clusters")).as("n_removable"))
          .orderBy("csize")
      },
      Some("""WITH RECURSIVE
        w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 200),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS shingles FROM w),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        p0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (SELECT d1, d2
          FROM p0 JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.10),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        r(node, lbl) AS (SELECT node, node FROM nodes
          UNION SELECT e.b, r.lbl FROM edges e JOIN r ON e.a = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node),
        cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
          FROM comp GROUP BY 1)
        SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
          CAST(csize * count(*) AS BIGINT) AS n_docs,
          CAST((csize - 1) * count(*) AS BIGINT) AS n_removable
        FROM cs GROUP BY csize ORDER BY csize""")),

    Q(
      "dedup_threshold_sweep",
      "Threshold-sensitivity sweep — the tuning report run before " +
        "committing to a near-dup cutoff: candidate pairs from the " +
        "shared salted shingle stage, bucketed into 0.05-wide Jaccard " +
        "bands, with per-band pair counts and the cumulative pairs at " +
        "or above each band (the 'how many pairs would threshold t " +
        "drop' curve). The band index is floor(20*inter/union) in " +
        "EXACT integer arithmetic — no float boundary can flip a " +
        "bucket between engines. The cumulative sum runs over the " +
        "<=20-row band table packed into ONE row (sorted struct array " +
        "+ prefix fold — the globalRank offsets pattern), so there is " +
        "no unpartitioned window and nothing driver-sized anywhere.",
      (s, dir) => {
        val stats = ngramJaccardStats(
          Tables.t(s, dir, "documents").filter(col("doc_id") < 200),
          hotThreshold = 20)
        val bands = stats
          .groupBy(Skew.idiv(col("inter") * 20, col("un")).as("band_idx"))
          .agg(count(lit(1)).as("n_pairs"))
        bands
          .agg(sort_array(collect_list(
            struct(col("band_idx"), col("n_pairs"))), asc = false).as("a"))
          .select(explode(expr(
            "transform(a, (x, i) -> struct(x.band_idx AS band_idx, " +
              "x.n_pairs AS n_pairs, " +
              "aggregate(slice(a, 1, i + 1), CAST(0 AS BIGINT), " +
              "(acc, y) -> acc + y.n_pairs) AS n_at_or_above))")).as("o"))
          .select((col("o.band_idx") / 20.0).as("band"),
            col("o.n_pairs").as("n_pairs"),
            col("o.n_at_or_above").as("n_at_or_above"))
          .orderBy("band")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 200),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)])) AS shingles FROM w),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        p0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (SELECT CAST(inter AS BIGINT) AS inter,
            sa.n + sb.n - CAST(inter AS BIGINT) AS un
          FROM p0 JOIN sizes sa ON sa.doc_id = d1
          JOIN sizes sb ON sb.doc_id = d2),
        bands AS (SELECT (inter * 20) // un AS band_idx,
            CAST(count(*) AS BIGINT) AS n_pairs
          FROM p GROUP BY 1)
        SELECT band_idx / 20.0 AS band, n_pairs,
          CAST(sum(n_pairs) OVER (ORDER BY band_idx DESC) AS BIGINT)
            AS n_at_or_above
        FROM bands ORDER BY band""")),

    Q(
      "dedup_minhash_lsh",
      "MinHash (32 perms) + LSH banding (8 bands × 4 rows): shingle → " +
        "per-permutation min of an affine-transformed xxhash64 → band " +
        "buckets → candidate pairs via bucket equi-join → verified " +
        "Jaccard. Hash-function specific → no SQL oracle (rows-only + " +
        "ScalaCheck property: Jaccard-similar pairs collide).",
      (s, dir) => minhashLsh(Tables.t(s, dir, "documents").filter(col("doc_id") < 200)),
      None),

    Q(
      "dedup_minhash_replay",
      "The MinHash+LSH DATAFLOW under an engine-portable hash, fully " +
        "oracle-checked: 32 permutations via md5-derived hexHash(perm : " +
        "token) mins, 8 bands × 4 rows keyed by the in-order signature " +
        "slice, candidate pairs from the band-bucket equi-join, exact " +
        "Jaccard verify. DuckDB replays every hash, min, band key, and " +
        "pair — so the banding/bucketing/verify pipeline that " +
        "dedup_minhash_lsh runs with the native one-pass MinHashSig " +
        "expression (the 100 TB hot path, hash-specific → rows-only) " +
        "is hash-checked end to end here.",
      (s, dir) => {
        import PortableHash.hexHash
        val toks = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tokens"))
        val sigs = toks.select(col("doc_id"), explode(col("tokens")).as("token"))
          .select(col("doc_id"), col("token"),
            explode(sequence(lit(0), lit(31))).as("p"))
          .select(col("doc_id"), col("p"),
            hexHash(concat(col("p").cast("string"), lit(":"), col("token"))).as("h"))
          .groupBy("doc_id", "p").agg(min("h").as("m"))
        val banded = sigs
          .groupBy(col("doc_id"), (col("p") / 4).cast("int").as("band"))
          .agg(sort_array(collect_list(struct(col("p"), col("m")))).as("pm"))
          .select(col("doc_id"), col("band"),
            concat_ws(",", transform(col("pm"), x => x("m").cast("string"))).as("key"))
        // dedupe candidate PAIRS on ids before touching the token
        // arrays — a pair colliding in several bands is deduped on two
        // longs, and the wide arrays join on only once per survivor
        // (the same shape the oracle uses)
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        cand
          .join(toks.select(col("doc_id").as("d1"), col("tokens").as("ta")), "d1")
          .join(toks.select(col("doc_id").as("d2"), col("tokens").as("tb")), "d2")
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .select(col("d1"), col("d2"),
            round(col("inter").cast("double") /
              (size(col("ta")) + size(col("tb")) - col("inter")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
          FROM documents WHERE doc_id < 200),
        ex AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
        hashed AS (
          SELECT doc_id, p,
            ${PortableHash.hexHashSql("CAST(p AS VARCHAR) || ':' || token")} AS h
          FROM ex CROSS JOIN (SELECT unnest(range(32)) AS p)),
        sigs AS (SELECT doc_id, p, min(h) AS m FROM hashed GROUP BY 1, 2),
        banded AS (
          SELECT s.doc_id, CAST(p // 4 AS INT) AS band,
            string_agg(CAST(m AS VARCHAR), ',' ORDER BY p) AS key
          FROM sigs s GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT c.d1, c.d2,
          round(CAST(len(list_intersect(ta.tokens, tb.tokens)) AS DOUBLE) /
            (len(ta.tokens) + len(tb.tokens) - len(list_intersect(ta.tokens, tb.tokens))),
            6) AS jaccard
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.d1
        JOIN toks tb ON tb.doc_id = c.d2
        ORDER BY jaccard DESC, d1, d2""")),

    Q(
      "dedup_minhash_accuracy",
      "MinHash estimator accuracy audit — for every LSH candidate " +
        "pair, the signature-agreement estimate (matching " +
        "permutations / 32) against the exact token Jaccard, with " +
        "the absolute error: the eval that justifies trusting the " +
        "approximate dedup path before running it over a corpus " +
        "(E[est] = J, so systematic error here means a broken hash " +
        "or banding bug). Same portable-hash dataflow as " +
        "dedup_minhash_replay; agreement counts come from one " +
        "(pair, permutation)-keyed join — 32 integer rows per " +
        "pair — so estimate, truth, and error are all exact in both " +
        "engines.",
      (s, dir) => {
        import PortableHash.hexHash
        val toks = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tokens"))
        val sigs = toks.select(col("doc_id"), explode(col("tokens")).as("token"))
          .select(col("doc_id"), col("token"),
            explode(sequence(lit(0), lit(31))).as("p"))
          .select(col("doc_id"), col("p"),
            hexHash(concat(col("p").cast("string"), lit(":"), col("token"))).as("h"))
          .groupBy("doc_id", "p").agg(min("h").as("m"))
        val banded = sigs
          .groupBy(col("doc_id"), (col("p") / 4).cast("int").as("band"))
          .agg(sort_array(collect_list(struct(col("p"), col("m")))).as("pm"))
          .select(col("doc_id"), col("band"),
            concat_ws(",", transform(col("pm"), x => x("m").cast("string"))).as("key"))
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        val agree = cand
          .join(sigs.select(col("doc_id").as("d1"), col("p"), col("m").as("m1")), Seq("d1"))
          .join(sigs.select(col("doc_id").as("d2"), col("p"), col("m").as("m2")),
            Seq("d2", "p"))
          .groupBy("d1", "d2")
          .agg(count(when(col("m1") === col("m2"), 1)).as("n_agree"))
        agree
          .join(toks.select(col("doc_id").as("d1"), col("tokens").as("ta")), "d1")
          .join(toks.select(col("doc_id").as("d2"), col("tokens").as("tb")), "d2")
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .withColumn("exact", col("inter").cast("double")
            / (size(col("ta")) + size(col("tb")) - col("inter")))
          .select(col("d1"), col("d2"),
            round(col("n_agree") / 32.0, 6).as("est_jaccard"),
            round(col("exact"), 6).as("exact_jaccard"),
            round(abs(col("n_agree") / 32.0 - col("exact")), 6).as("abs_err"))
          .orderBy("d1", "d2")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
          FROM documents WHERE doc_id < 200),
        ex AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
        hashed AS (
          SELECT doc_id, p,
            ${PortableHash.hexHashSql("CAST(p AS VARCHAR) || ':' || token")} AS h
          FROM ex CROSS JOIN (SELECT unnest(range(32)) AS p)),
        sigs AS (SELECT doc_id, p, min(h) AS m FROM hashed GROUP BY 1, 2),
        banded AS (
          SELECT s.doc_id, CAST(p // 4 AS INT) AS band,
            string_agg(CAST(m AS VARCHAR), ',' ORDER BY p) AS key
          FROM sigs s GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        agree AS (
          SELECT c.d1, c.d2, count(*) FILTER (WHERE sa.m = sb.m) AS n_agree
          FROM cand c
          JOIN sigs sa ON sa.doc_id = c.d1
          JOIN sigs sb ON sb.doc_id = c.d2 AND sb.p = sa.p
          GROUP BY 1, 2),
        x AS (SELECT a.d1, a.d2, n_agree,
            CAST(len(list_intersect(ta.tokens, tb.tokens)) AS DOUBLE) /
              (len(ta.tokens) + len(tb.tokens)
                - len(list_intersect(ta.tokens, tb.tokens))) AS exact
          FROM agree a
          JOIN toks ta ON ta.doc_id = a.d1
          JOIN toks tb ON tb.doc_id = a.d2)
        SELECT d1, d2,
          round(n_agree / 32.0, 6) AS est_jaccard,
          round(exact, 6) AS exact_jaccard,
          round(abs(n_agree / 32.0 - exact), 6) AS abs_err
        FROM x ORDER BY d1, d2""")),

    Q(
      "dedup_lsh_plan",
      "LSH parameter planner — the S-curve P(candidate | J) = " +
        "1−(1−Jʳ)ᵇ for every (bands, rows) factorization of the " +
        "32-permutation signature across a Jaccard grid: the table " +
        "an engineer reads to pick banding for a target similarity " +
        "threshold BEFORE running dedup_minhash_lsh (b=8,r=4 — the " +
        "in-repo default — crosses 50% near J≈0.6). Pure generated " +
        "computation, no scan; the same closed form at any corpus " +
        "size, which is the point: banding is planned analytically, " +
        "validated empirically by dedup_minhash_accuracy.",
      (s, dir) => {
        val combos = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
        val df = s.createDataFrame(combos).toDF("b", "r")
        df.select(col("b"), col("r"),
            explode(sequence(lit(1), lit(9))).as("i"))
          .withColumn("j", col("i") / 10.0)
          .select(col("b"), col("r"), round(col("j"), 1).as("jaccard"),
            round(lit(1.0) - pow(lit(1.0)
              - pow(col("j"), col("r").cast("double")), col("b").cast("double")),
              6).as("p_candidate"))
          .orderBy("b", "jaccard")
      },
      Some("""WITH combos(b, r) AS (VALUES (32, 1), (16, 2), (8, 4),
            (4, 8), (2, 16), (1, 32)),
        grid AS (SELECT b, r, CAST(i AS INT) AS i
          FROM combos CROSS JOIN (SELECT unnest(range(1, 10)) AS i))
        SELECT b, r, round(i / 10.0, 1) AS jaccard,
          round(1.0 - pow(1.0 - pow(i / 10.0, CAST(r AS DOUBLE)),
            CAST(b AS DOUBLE)), 6) AS p_candidate
        FROM grid ORDER BY b, jaccard""")),

    Q(
      "dedup_simhash_portable",
      "The SimHash band/bucket/Hamming DATAFLOW under an engine-" +
        "portable hash, fully oracle-checked: 32-bit fingerprints from " +
        "md5-derived per-token bit votes, candidates via 4×8-bit band " +
        "buckets, pairs verified with the codegen'd hamming_distance " +
        "expression vs DuckDB's bit_count(xor(...)). Integer votes and " +
        "shifts only — bit-identical across engines. Pins the exact " +
        "banding/verify pipeline that dedup_simhash runs with native " +
        "64-bit xxhash64 fingerprints (the hot path, rows-only).",
      (s, dir) => {
        import PortableHash.hexHash
        val votes = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .select(col("doc_id"), hexHash(col("token")).as("h"))
          .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("b"))
          .groupBy("doc_id", "b")
          .agg(sum(when(expr("(shiftright(h, CAST(b AS INT)) & 1) = 1"), 1L)
            .otherwise(-1L)).as("v"))
        val d = votes.groupBy("doc_id")
          .agg(sum(when(col("v") >= 0,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).otherwise(0L)).as("sig"))
        val bandMasks = typedlit(Seq(0xFFL, 0xFF00L, 0xFF0000L, 0xFF000000L))
        val banded = d.select(col("doc_id"), col("sig"),
            explode(transform(sequence(lit(0), lit(3)),
              k => struct(k.as("band"),
                col("sig").bitwiseAND(element_at(bandMasks, k + 1)).as("key")))).as("bk"))
          .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            HammingDistance.hamming(col("a.sig"), col("b.sig")).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 8)
          .orderBy(col("hamming"), col("d1"), col("d2"))
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id < 200),
        h AS (SELECT doc_id, ${PortableHash.hexHashSql("token")} AS h FROM tok),
        votes AS (
          SELECT doc_id, b,
            sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN (SELECT unnest(range(32)) AS b) GROUP BY 1, 2),
        sig AS (
          SELECT doc_id,
            sum(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                     ELSE 0 END) AS sig
          FROM votes GROUP BY 1),
        banded AS (
          SELECT doc_id, sig, band, sig & mask AS key
          FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band,
            unnest([255, 65280, 16711680, 4278190080]) AS mask)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
            CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT d1, d2, hamming FROM pairs WHERE hamming <= 8
        ORDER BY hamming, d1, d2""")),

    Q(
      "dedup_simhash",
      "SimHash near-dup: 64-bit fingerprint per doc (HOF bit votes over " +
        "xxhash64), candidates via 4×16-bit band buckets, verified with " +
        "the native codegen'd hamming_distance expression. Rows-only " +
        "check (hash-specific); ScalaTest covers the semantics; the " +
        "band/bucket/Hamming dataflow itself is oracle-checked by " +
        "dedup_simhash_portable.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), simhash64(split(col("text"), " ")).as("sig"))
        // 16-bit band buckets: key = sig & bandMask (no down-shift needed —
        // the masked value is just as good a bucket key)
        val bandMasks = typedlit(Seq(0xFFFFL, 0xFFFF0000L, 0xFFFF00000000L, 0xFFFF000000000000L))
        val banded = d.select(col("doc_id"), col("sig"),
            explode(transform(sequence(lit(0), lit(3)),
              k => struct(k.as("band"),
                col("sig").bitwiseAND(element_at(bandMasks, k + 1)).as("key")))).as("bk"))
          .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            HammingDistance.hamming(col("a.sig"), col("b.sig")).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 16)
          .orderBy(col("hamming"), col("d1"), col("d2"))
      },
      None),

    Q(
      "dedup_embedding_cosine",
      "Embedding-cosine near-dup pairs (threshold 0.4) for a BOUNDED " +
        "probe set (vec_id < 64) against the full corpus: exact " +
        "double-precision cosine, bit-identical to the oracle's " +
        "list_reduce fold. The probe side is broadcast, so the plan is " +
        "O(K·N) scanning the corpus once — never an unbounded all-pairs " +
        "nested loop. This is the exact recall baseline for " +
        "dedup_embedding_lsh, which is the unbounded-corpus scale path.",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        // precompute each side's norm once (O(N)) so the pair loop does a
        // single dot product per candidate (1 fold, not 3)
        val probe = e.filter(col("vec_id") < 64)
          .select(col("vec_id").as("v1"), col("embedding").as("ea"),
            sqrt(VectorOps.normSq(col("embedding"))).as("na"))
        val corpus = e.select(col("vec_id").as("v2"), col("embedding").as("eb"),
          sqrt(VectorOps.normSq(col("embedding"))).as("nb"))
        corpus.join(broadcast(probe), col("v1") < col("v2"))
          .withColumn("cos", VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .filter(col("cos") >= 0.4)
          .select(col("v1"), col("v2"), round(col("cos"), 6).as("cos_sim"))
          .orderBy("v1", "v2")
      },
      Some(s"""WITH p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
          ${VectorOps.duckCosine("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 64)
        SELECT v1, v2, round(cos, 6) AS cos_sim FROM p
        WHERE cos >= 0.4 ORDER BY v1, v2""")),

    Q(
      "dedup_embedding_lsh",
      "Hyperplane-LSH near-dup (4 bands × ADAPTIVE-width signed " +
        "projections → bucket equi-join → exact-cosine verify): the " +
        "scale path for dedup_embedding_cosine. Band width tracks the " +
        "corpus — bits = clamp(ceil(log2(N/125)), 4, 8) off a " +
        "broadcast count — so candidate volume stays ~O(N·bucket); " +
        "the r14 sf1 audit caught the FIXED 4-bit form degenerating " +
        "to 110× cost at 10× data, the classic LSH scale failure. " +
        "Verified pairs are exact (precision 1). FULLY oracle-" +
        "checked: the hyperplanes are fixed-seed literals and the " +
        "oracle derives the SAME width from its own count(*), so it " +
        "replays every signed projection (same sequential-fold dot " +
        "product → bit-identical sign), band bucket, candidate pair, " +
        "and exact-cosine verification at any corpus size.",
      (s, dir) => embeddingLsh(Tables.t(s, dir, "embeddings")),
      Some(embeddingLshOracle)),

    Q(
      "dedup_incremental_embedding",
      "Incremental SEMANTIC dedup of a new embedding batch against a " +
        "PERSISTED hyperplane-LSH bucket store — the embedding-space " +
        "completion of the incremental family (dedup_incremental: " +
        "exact fingerprints; dedup_incremental_minhash: token " +
        "shingles; this: dense vectors). The historical 80% " +
        "(vec_id % 10 < 8) is banded once (4 bands of fixed-seed " +
        "signed projections at the commissioning width below) and " +
        "written as the parquet store a " +
        "continuous-ingestion pipeline keeps between batches; the new " +
        "20% batch is banded, candidates come from a (band, bucket) " +
        "equi-join against the LOADED store, and a candidate is " +
        "rejected only after EXACT-cosine verification (≥ 0.4, the " +
        "dedup_embedding_cosine threshold) against the colliding " +
        "store vector — or an earlier batch vector (batch-internal " +
        "near-dedup in the same pass, doc-id precedence). Ingest cost " +
        "is O(batch × bucket density), zero re-banding of history; " +
        "precision is exact because every rejection is verified. Band " +
        "width is fixed at store COMMISSIONING from the reference " +
        "corpus size (clamp(ceil(log2(N/125)), 4, 8)) — wide enough " +
        "that bucket density stays bounded at the corpus's scale, " +
        "stable so history, every future batch, and the oracle band " +
        "identically and deletions never move it.",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        val store = graft.Scratch.once(s"dedup_band_store:$dir") { p =>
          hyperplaneBandedAdaptive(
              e.filter(pmod(col("vec_id"), lit(10)) < 8), widthFrom = e)
            .write.mode("overwrite").parquet(p)
        }
        val hist = s.read.parquet(store)
        val batch = hyperplaneBandedAdaptive(
          e.filter(pmod(col("vec_id"), lit(10)) >= 8), widthFrom = e)
        incrementalEmbeddingServe(hist, batch)
      },
      Some(s"""WITH $adaptiveHyperplaneBandedCtes,
        store AS (SELECT * FROM banded WHERE vec_id % 10 < 8),
        batch AS (SELECT * FROM banded WHERE vec_id % 10 >= 8),
        hit_store AS (SELECT DISTINCT b.vec_id FROM batch b
          JOIN store h ON b.band = h.band AND b.bucket = h.bucket
          WHERE ${VectorOps.duckCosine("b.embedding", "h.embedding")} >= 0.4),
        hit_earlier AS (SELECT DISTINCT a.vec_id FROM batch a
          JOIN batch b2 ON a.band = b2.band AND a.bucket = b2.bucket
            AND b2.vec_id < a.vec_id
          WHERE ${VectorOps.duckCosine("a.embedding", "b2.embedding")} >= 0.4)
        SELECT DISTINCT vec_id FROM batch
        WHERE vec_id NOT IN (SELECT vec_id FROM hit_store)
          AND vec_id NOT IN (SELECT vec_id FROM hit_earlier)
        ORDER BY vec_id""")),

    Q(
      "dedup_incremental_tombstone",
      "TOMBSTONE handling in the persisted band store — the " +
        "delete/compaction path dedup_incremental_embedding lacks " +
        "(its store only ever grows): a deletion batch (vec_id ≡ 4 " +
        "mod 10 — the right-to-be-forgotten slice of history) is " +
        "applied to the LOADED store as an anti-join before serving, " +
        "so a new vector whose only collision was a deleted vector " +
        "is correctly ADMITTED — exactly what a compaction that " +
        "physically rewrote the store would produce (banding is " +
        "per-row, so filter-after-band ≡ band-after-filter; " +
        "SimilaritySpec pins serve-after-delete equality with a fresh " +
        "build on the filtered history). Ingest cost is unchanged — " +
        "O(batch × bucket density) — plus one broadcast-able " +
        "tombstone-id anti-join; history is never re-banded.",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        val store = graft.Scratch.once(s"dedup_band_store:$dir") { p =>
          hyperplaneBandedAdaptive(
              e.filter(pmod(col("vec_id"), lit(10)) < 8), widthFrom = e)
            .write.mode("overwrite").parquet(p)
        }
        val tombstones = e.filter(pmod(col("vec_id"), lit(10)) === 4)
          .select(col("vec_id"))
        val hist = s.read.parquet(store)
          .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
        val batch = hyperplaneBandedAdaptive(
          e.filter(pmod(col("vec_id"), lit(10)) >= 8), widthFrom = e)
        incrementalEmbeddingServe(hist, batch)
      },
      Some(s"""WITH $adaptiveHyperplaneBandedCtes,
        store AS (SELECT * FROM banded
          WHERE vec_id % 10 < 8 AND vec_id % 10 != 4),
        batch AS (SELECT * FROM banded WHERE vec_id % 10 >= 8),
        hit_store AS (SELECT DISTINCT b.vec_id FROM batch b
          JOIN store h ON b.band = h.band AND b.bucket = h.bucket
          WHERE ${VectorOps.duckCosine("b.embedding", "h.embedding")} >= 0.4),
        hit_earlier AS (SELECT DISTINCT a.vec_id FROM batch a
          JOIN batch b2 ON a.band = b2.band AND a.bucket = b2.bucket
            AND b2.vec_id < a.vec_id
          WHERE ${VectorOps.duckCosine("a.embedding", "b2.embedding")} >= 0.4)
        SELECT DISTINCT vec_id FROM batch
        WHERE vec_id NOT IN (SELECT vec_id FROM hit_store)
          AND vec_id NOT IN (SELECT vec_id FROM hit_earlier)
        ORDER BY vec_id""")),

    Q(
      "dedup_chunk_exact",
      "Paragraph-level exact dedup WITH document reconstruction — the " +
        "CCNet/RefinedWeb shape where duplicated passages are stripped " +
        "but the surviving document text is kept, spelled over " +
        "non-overlapping 10-token chunks since the fixture has no line " +
        "structure: each chunk keeps only its globally FIRST occurrence " +
        "(min (doc_id, position)); every later occurrence — cross-doc " +
        "boilerplate or an in-doc repeat — is stripped, and each doc " +
        "re-emits its kept chunks in original order as cleaned text " +
        "(possibly empty when a doc is pure repetition). Dataflow: one " +
        "chunk explode → per-chunk min((doc_id, pos)) as a MAP-SIDE-" +
        "COMBINED aggregate joined back on the chunk key (deliberately " +
        "NOT a chunk-partitioned window: a boilerplate chunk's " +
        "duplicate cluster can be a billion rows, and the min combines " +
        "to one row per chunk before the shuffle while AQE splits the " +
        "hot probe partitions) → per-doc sorted-fold reassembly " +
        "(collect_list of kept (pos, chunk), sort_array, array_join — " +
        "bounded by one document).",
      (s, dir) => chunkDedup(Tables.t(s, dir, "documents"), 10),
      Some("""WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        ch AS (
          SELECT doc_id,
            CAST((st - 1) / 10 + 1 AS INT) AS pos,
            array_to_string(words[CAST(st AS INT):CAST(st + 9 AS INT)], ' ') AS chunk
          FROM (SELECT doc_id, words,
              unnest(range(1, len(words) + 1, 10)) AS st FROM d)),
        rk AS (
          SELECT doc_id, pos, chunk,
            row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          FROM ch)
        SELECT doc_id, count(*) AS n_chunks,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos),
            '') AS cleaned
        FROM rk GROUP BY doc_id ORDER BY doc_id""")),

    Q(
      "dedup_source_overlap",
      "Cross-SOURCE content overlap matrix — 3-gram shingle Jaccard " +
        "between every pair of sources (the corpus-planning view " +
        "over the same shingle space the per-document near-dup " +
        "operators use: which feeds are republishing each other and " +
        "in what direction, via containment). The raw (source, " +
        "shingle) stream groups STRAIGHT to each shingle's source " +
        "SET \u2014 bounded by |sources|, a dimension; partial " +
        "collect_set dedupes map-side \u2014 and the pair contributions " +
        "explode from that bounded array AFTER the reduce (the r10 " +
        "bench showed the self-join form shuffling the shingle " +
        "table twice; r18 also removed the standalone distinct " +
        "pass, whose output re-shuffled wholesale onto the gram key " +
        "\u2014 guide §2.4). Marginals re-derive from the checkpointed " +
        "per-gram sets (map-side-combinable count) and broadcast " +
        "back onto the |sources|²-bounded pair table; every ratio " +
        "divides exact integers. Top-15 pairs by Jaccard.",
      (s, dir) => {
        // ONE corpus-wide shuffle (optimization r18, guide §2.3/§2.4):
        // group the raw (source, gram) stream straight to the per-gram
        // source SET — partial collect_set dedupes map-side exactly
        // like the old standalone .distinct() did, but lands directly
        // on the gram key, so the r17 form's SECOND full shuffle of
        // the distinct pair table (by g, after the distinct by
        // (source, g)) disappears. Marginals re-derive from the
        // checkpointed per-gram sets by re-exploding them — a
        // map-side-combinable count whose shuffle payload is |sources|
        // partial counts, not the pair table.
        val ss = Tables.t(s, dir, "documents")
          .select(col("source"),
            explode(array_distinct(graft.ops.TextFns.wordGrams(
              split(col("text"), " "), 3))).as("g"))
          .groupBy("g")
          .agg(sort_array(collect_set("source")).as("ss"))
          .transform(Skew.cut)
        val sizes = ss.select(explode(col("ss")).as("source"))
          .groupBy("source").agg(count(lit(1)).as("sz"))
          .transform(Skew.cut)
        val inter = ss
          .select(explode(expr(
            "flatten(transform(ss, (x, i) -> " +
              "transform(slice(ss, i + 2, size(ss)), " +
              "y -> struct(x AS s1, y AS s2))))")).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(broadcast(sizes.select(col("source").as("s1"),
            col("sz").as("za"))), "s1")
          .join(broadcast(sizes.select(col("source").as("s2"),
            col("sz").as("zb"))), "s2")
          .select(col("s1"), col("s2"), col("i").as("n_shared"),
            round(col("i").cast("double")
              / (col("za") + col("zb") - col("i")), 6).as("jaccard"),
            round(col("i").cast("double") / least(col("za"), col("zb")), 6)
              .as("containment"))
          .orderBy(col("jaccard").desc, col("s1"), col("s2"))
          .limit(15)
      },
      Some("""WITH tok AS (SELECT source, doc_id,
            string_split(text, ' ') AS ws FROM documents),
        sh AS (SELECT DISTINCT source,
            ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
          FROM tok, range(1, 2000) r(i)
          WHERE i + 2 <= len(ws)),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
          FROM sh GROUP BY 1),
        inter AS (SELECT a.source AS s1, b.source AS s2,
            CAST(count(*) AS BIGINT) AS i
          FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
        SELECT s1, s2, i AS n_shared,
          round(CAST(i AS DOUBLE) / (za.sz + zb.sz - i), 6) AS jaccard,
          round(CAST(i AS DOUBLE) / least(za.sz, zb.sz), 6) AS containment
        FROM inter
        JOIN sizes za ON za.source = s1
        JOIN sizes zb ON zb.source = s2
        ORDER BY jaccard DESC, s1, s2 LIMIT 15""")),

    Q(
      "dedup_quality_survivor",
      "Quality-aware dedup survivor — within each duplicate FAMILY " +
        "(md5 of the first-8-token prefix: the head-fingerprint rule " +
        "that groups template/boilerplate mirrors sharing an " +
        "opening), keep the HIGHEST-quality " +
        "copy (type/token ratio, ties to smaller doc_id) instead of " +
        "dedup_exact_key's arbitrary-but-deterministic min-id rule: " +
        "when a document exists in a clean feed and a boilerplate-" +
        "injected mirror, the survivor choice decides corpus " +
        "quality, not just corpus size. The quality key is an exact " +
        "integer cross-ratio (uniq·10⁶ div total), so ranking never " +
        "touches a float; one fingerprint window, map-side-light.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))
              .cast("binary")).as("fp"),
            Skew.idiv(
              size(array_distinct(split(col("text"), " "))).cast("long")
                * 1000000L,
              size(split(col("text"), " ")).cast("long")).as("qual"))
        val w = Window.partitionBy("fp")
          .orderBy(col("qual").desc, col("doc_id"))
        d.withColumn("rk", row_number().over(w))
          .withColumn("csize", count(lit(1)).over(Window.partitionBy("fp")))
          .filter(col("rk") === 1 && col("csize") > 1)
          .select(col("fp"), col("csize").as("cluster_size"),
            col("doc_id").as("survivor"),
            round(col("qual") / 1e6, 4).as("survivor_quality"))
          .orderBy("fp")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
            CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
              * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
              AS qual
          FROM documents),
        rk AS (SELECT fp, doc_id, qual,
            row_number() OVER (PARTITION BY fp
              ORDER BY qual DESC, doc_id) AS rk,
            count(*) OVER (PARTITION BY fp) AS csize
          FROM d)
        SELECT fp, CAST(csize AS BIGINT) AS cluster_size,
          doc_id AS survivor,
          round(qual / 1e6, 4) AS survivor_quality
        FROM rk WHERE rk = 1 AND csize > 1
        ORDER BY fp"""))
  )

  /** Chunk-level exact dedup with document reconstruction (the
    * dedup_chunk_exact dataflow, factored for property tests): split
    * each doc into non-overlapping k-token chunks, keep only each
    * chunk's globally first occurrence (min (doc_id, position)), and
    * rebuild every document from its kept chunks in original order.
    * Output: (doc_id, n_chunks, n_kept, cleaned), ordered by doc_id. */
  def chunkDedup(docs: DataFrame, k: Int): DataFrame = {
    val ch = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("words"),
        explode(sequence(lit(1), size(col("words")), lit(k))).as("st"))
      .select(col("doc_id"),
        (((col("st") - 1) / k) + 1).cast("int").as("pos"),
        concat_ws(" ", slice(col("words"), col("st"), lit(k))).as("chunk"))
    // first occurrence per chunk as a MAP-SIDE-COMBINABLE min aggregate
    // (lexicographic struct min), joined back chunk-keyed — NOT a
    // window partitioned by chunk: a boilerplate chunk's duplicate
    // cluster can be a billion rows at corpus scale, and a window
    // funnels the whole cluster through one task, while the min
    // combines to one row per chunk before the shuffle and the probe
    // side of the join splits under AQE skew handling
    val first = ch.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    ch.join(first, Seq("chunk"))
      .withColumn("kept",
        col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(expr("transform(" +
          "sort_array(collect_list(CASE WHEN kept THEN " +
          "struct(pos, chunk) END)), x -> x.chunk)"), " ").as("cleaned"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[embeddingLsh]]'s candidate scoring, as a CTE
    * block ending in `scored(v1, v2, cos)`: regenerates the SAME
    * fixed-seed hyperplanes and inlines them as double literals (a
    * float widened to double prints to a literal that parses back to
    * the exact same double, so the projections are bit-identical to
    * the codegen'd VecDot ones). Shared by the dedup_embedding_lsh and
    * pipeline_semantic_dedup oracles. */
  def embeddingLshScoredCtes: String = {
    s"""$adaptiveHyperplaneBandedCtes,
      cand AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
          a.embedding AS ea, b.embedding AS eb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      scored AS MATERIALIZED (
        SELECT v1, v2, ${graft.expr.VectorOps.duckCosine("ea", "eb")} AS cos
        FROM cand)"""
  }

  private def embeddingLshOracle: String =
    s"""WITH $embeddingLshScoredCtes
      SELECT v1, v2, round(cos, 6) AS cos_sim FROM scored
      WHERE cos >= 0.4 ORDER BY v1, v2"""

  /** Bigram-shingle Jaccard near-dup pairs, top-k. Candidate generation
    * is explode → self-equi-join on shingle (never all-pairs); the join
    * goes through [[Skew.saltedJoinHot]] so shingles appearing in more
    * than `hotThreshold` docs are salted `salts` ways — the hot-shingle
    * mitigation for real corpora where a boilerplate bigram would
    * otherwise concentrate O(df²) pair work on one task. The da < db
    * filter sits directly above the inner join, so Catalyst pushes it
    * into the join condition. */
  def ngramJaccard(
      docs: DataFrame,
      topK: Int = 50,
      hotThreshold: Long = 1000000L,
      salts: Int = 0): DataFrame =
    ngramJaccardStats(docs, hotThreshold, salts)
      .select("d1", "d2", "inter", "un", "jaccard")
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(topK)

  /** Un-truncated (d1, d2, inter, un, jaccard) pair statistics — the
    * shared candidate-generation stage behind [[ngramJaccard]] (top-k)
    * and [[connectedComponents]]-based clustering (threshold filter). */
  def ngramJaccardStats(
      docs: DataFrame,
      hotThreshold: Long = 1000000L,
      salts: Int = 0,
      width: Int = 2): DataFrame = {
    // width governs the join's fan-out: Σ_shingle df² pairs. Wider
    // shingles (5 is the production near-dup norm) make shingles rarer,
    // collapsing df and with it the candidate volume — the knob that
    // keeps a FULL-corpus pass feasible where bigrams need a scope cap.
    //
    // The shingle expression is fused INTO each consumer (explode /
    // size) rather than projected as a named array column first:
    // exploding a named non-codegen array column (transform is a
    // CodegenFallback higher-order function) re-evaluates the array
    // builder per EMITTED row — O(shingles²) per doc, measured 14× on
    // the full-corpus pass — while the fused generator evaluates it
    // once per input row.
    val shingleExpr =
      array_distinct(TextFns.wordGrams(split(col("text"), " "), width))
    shingleJaccardStats(
      docs.select(col("doc_id"), explode(shingleExpr).as("shingle")),
      hotThreshold, salts)
  }

  /** [[ngramJaccardStats]] over a PRE-BUILT (doc_id, shingle) table —
    * shingles already distinct per doc. The declarative helper above
    * evaluates its shingle expression once per consuming subtree (two
    * join sides + the hot-key pass + the size table); callers running a
    * full-corpus pass can instead materialize the exploded shingle
    * table once (the production near-dup shape — the shingle table IS
    * the standard intermediate a 100 TB dedup job persists) and feed it
    * here, paying ONE shingle-generation pass total. */
  def shingleJaccardStats(
      ex: DataFrame,
      hotThreshold: Long = 1000000L,
      salts: Int = 0): DataFrame = {
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = ex.select(col("shingle"), col("doc_id").as("da"))
    val b = ex.select(col("shingle"), col("doc_id").as("db"))
    val pairs = Skew
      .saltedJoinHot(a, b, "shingle", spreadBy = col("da"), salts = salts,
        hotThreshold = hotThreshold)
      .filter(col("da") < col("db"))
      .groupBy(col("da").as("d1"), col("db").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "na"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "nb"), "d2")
      .select(col("d1"), col("d2"), col("inter"), col("na"), col("nb"),
        (col("na") + col("nb") - col("inter")).as("un"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Connected components over an undirected candidate-pair edge list
    * (`src`, `dst`) — the clustering stage of a production near-dup
    * pipeline: candidate pairs → clusters → one survivor per cluster.
    * Iterative min-label propagation: every round each node takes the
    * minimum label in its 1-hop neighborhood; fixpoint in at most
    * `diameter` rounds. Each round is one equi-join + one partial-agg
    * groupBy; `localCheckpoint` truncates lineage so round k doesn't
    * replan rounds 1..k-1, and the convergence test moves one Long per
    * round to the driver (control flow, not data). At extreme scale the
    * large-star/small-star variant lowers the round count; the per-round
    * dataflow is the same. Output: (node, component, keep) where
    * component = min doc id of the cluster and keep marks the survivor. */
  /** Eagerly localCheckpoints `df` and returns it with a
    * (count, xor-of-row-hashes over `key`) signature observed on the
    * checkpoint's OWN job — the zero-extra-action fixpoint probe both
    * components loops use: an iteration's state is stable when its
    * carried signature stops changing. bit_xor is order-independent
    * and cannot overflow under ANSI mode (unlike a hash SUM); a
    * signature collision on differing states is ~2⁻⁶⁴ — far below any
    * hardware-error floor. */
  private val sigSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def sigCheckpoint(df: DataFrame, key: Seq[String]): (DataFrame, (Long, Long)) = {
    val obs = new org.apache.spark.sql.Observation(s"cc_sig_${sigSeq.incrementAndGet()}")
    val ck = df.observe(obs,
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(key.map(col): _*)), lit(0L)).as("x"))
      .transform(Skew.cut)
    val m = obs.get
    (ck, (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long]))
  }

  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // materialize the (possibly expensive) candidate-generation lineage
    // ONCE — every propagation round joins against sym, and without the
    // checkpoint each round would recompute the upstream pipeline
    val sym = edges
      .select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .transform(Skew.cut)
    // fixpoint via the carried label-set signature (the node set is
    // fixed, so "no label changed" ⟺ signature unchanged) — observed on
    // each round's checkpoint, replacing a per-round join+count job
    var (labels, prevSig) = sigCheckpoint(
      sym.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("comp")),
      Seq("node", "comp"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbr = sym.join(labels, sym("b") === labels("node"))
        .select(sym("a").as("node"), col("comp"))
      val (next, sig) = sigCheckpoint(
        labels.union(nbr).groupBy("node").agg(min("comp").as("comp")),
        Seq("node", "comp"))
      converged = sig == prevSig
      prevSig = sig
      labels = next
      iter += 1
    }
    // non-converged labels are silently WRONG (one true cluster splits
    // into several, each electing its own survivor) — fail fast instead;
    // the caller can raise maxIters (rounds needed = graph diameter)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — raise maxIters")
    labels.select(col("node"), col("comp").as("component"),
      (col("node") === col("comp")).as("keep"))
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014): converges in O(log² n) rounds INDEPENDENT of graph
    * diameter, where min-label propagation needs diameter rounds — on a
    * web-scale graph with million-hop chains that is the difference
    * between ~15 shuffles and an unrunnable job. Each round is two
    * node-keyed groupBy+join dataflows:
    *   large-star: every node's strictly-larger neighbors re-attach to
    *     the minimum of its neighborhood (incl. itself);
    *   small-star: every node and its smaller neighbors re-attach to
    *     that minimum.
    * The fixpoint is a forest of stars (every node points straight at
    * its component's minimum). Output contract identical to
    * [[connectedComponents]]; equivalence is spec-pinned on chains,
    * cycles, and seeded random graphs.
    *
    * Driver finish: whenever the carried edge set (initially, or after
    * any round) fits Spark's broadcast budget — `n` edges × 24 B ≤
    * `spark.sql.autoBroadcastJoinThreshold`, `n` taken from the
    * signature the checkpoint already observed — the rounds stop: the
    * checkpointed edges are collected (one job over cached blocks),
    * union-find with the minimum id as root builds the star forest on
    * the driver, and the final node join broadcasts it as a local
    * relation. 24 B is the planner's own size estimate for a row of
    * that relation (8 B row overhead + two longs), and the forest has
    * at most `n` rows, so whenever the finish runs the join is planned
    * as a broadcast (spec-pinned at the boundary). `-1` disables the
    * finish, as it disables broadcast joins.
    *
    * Measured: a small graph skips every round (each costs ~7 jobs) —
    * perfbench `corpus_prep`'s ~32-edge graph. Not measured: graphs
    * above the budget, the hand-over after contraction, and where the
    * finish stops paying — the budget is borrowed from broadcast joins,
    * not tuned for this crossover. */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 16): DataFrame = {
    // materialize the (possibly expensive) candidate-generation lineage
    // exactly ONCE — both the node set and the initial edge set read it,
    // and without this checkpoint each would re-run the whole upstream
    // pipeline
    val raw = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .transform(Skew.cut)
    // node set from the RAW endpoints (before the self-loop filter) so a
    // node whose only edges are self-loops still appears in the output —
    // matching connectedComponents' contract; consumed once by the final
    // join, so lazy over the checkpoint
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()
    val init = raw.filter(col("u") =!= col("v"))
    // O(ZERO-extra-job) fixpoint detection: the edge set is stable when
    // its [[sigCheckpoint]] signature is stable — the carried scalar
    // replaces round 4's two full `except` shuffles of old vs new.
    // invariant throughout: every stored edge points high → low (u > v)
    var (e, prevSig) = sigCheckpoint(init
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct(), Seq("u", "v"))
    val budget = SQLConf.get.autoBroadcastJoinThreshold
    // LocalRelation's size estimate per (u, v) row, the figure the
    // planner compares against the same budget for the final join
    def fitsDriver(n: Long) = budget >= 0 && n * 24 <= budget
    var small = fitsDriver(prevSig._1)
    var rounds = 0
    var converged = false
    while (!converged && !small && rounds < maxRounds) {
      // large-star: center x over BOTH directions; neighbors y > x link
      // to m = min(Γ(x) ∪ {x}); (y, m) keeps the high→low invariant
      val nbr = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = nbr.groupBy("x").agg(min("y").as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      // no checkpoint and no dedup here: duplicates can't change m2's
      // min and the relinked distinct() removes pair duplicates. The
      // explicit u-repartition gives BOTH consumers (m2's groupBy and
      // the join) the identical exchange subtree, so ReuseExchange
      // materializes afterLarge exactly once inside the relinked job —
      // a distinct()+localCheckpoint here costs 2 extra exchanges and 1
      // extra job per round for nothing; lineage stays bounded by the
      // relinked checkpoint below.
      val afterLarge = nbr.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(col("u"))
      // small-star: center u over its (all smaller) neighbors; each
      // neighbor AND u itself link to m = min(Γ⁻(u) ∪ {u}) = min(v)
      val m2 = afterLarge.groupBy("u").agg(min("v").as("m"))
      val (relinked, sig) = sigCheckpoint(afterLarge.join(m2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(m2.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct(), Seq("u", "v"))
      // fixpoint test on the edge SET (both sides are distinct): compare
      // this round's signature to the carried one — control flow only
      converged = sig == prevSig
      small = fitsDriver(sig._1)
      prevSig = sig
      e = relinked
      rounds += 1
    }
    if (!converged && !small)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds")
    // a converged edge set already IS the star forest; otherwise the
    // (small) edge set is finished on the driver
    val stars = if (converged) e else {
      val spark = edges.sparkSession
      import spark.implicits._
      minRootStars(e.as[(Long, Long)].collect()).toDF("u", "v")
    }
    // stars: every non-root points at its root; roots (and isolated
    // nodes never emitted as u) label themselves
    nodes.join(stars.select(col("u").as("node"), col("v").as("comp")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("comp"), col("node")).as("component"),
        (coalesce(col("comp"), col("node")) === col("node")).as("keep"))
  }

  /** Star forest of an edge list by union-find on the driver: every
    * non-root node paired with its component's minimum id (the root —
    * union always hangs the larger root under the smaller), i.e. the
    * fixpoint [[connectedComponentsStar]]'s rounds converge to. */
  private def minRootStars(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    for ((u, v) <- edges) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // only non-roots are ever keys; find compresses each to its root
    parent.keys.toSeq.map(x => (x, find(x)))
  }

  /** Random-hyperplane LSH candidate pairs with exact-cosine scores,
    * UNthresholded — the shared candidate stage behind [[embeddingLsh]]
    * (threshold filter) and sim_knn_graph (per-node top-k): 4 bands of
    * ADAPTIVE-width signed projections ([[hyperplaneBandedAdaptive]])
    * bucket the vectors; candidate pairs from bucket equi-joins are
    * scored with the exact double-fold cosine, so precision is 1 and
    * only recall is approximate — P(bit agree) = 1 − θ/π per
    * hyperplane (the SimHash bound). The scale path: buckets shrink
    * the pair space from O(N²) to O(Σ bucket²), and the adaptive width
    * keeps bucket ~constant as N grows. Returns (v1 < v2, cos) with
    * cos unrounded. */
  /** The fixed-seed hyperplanes behind every hyperplane-LSH consumer —
    * one seed so the Spark literals and the oracle's regenerated
    * double literals always agree. The first 16 are identical for any
    * `n` (one sequential draw stream), so the one remaining
    * fixed-4-bit consumer (multiprobe serving, [[hyperplaneBanded]])
    * and the adaptive-width paths — bulk mining AND the incremental
    * band store, which fixes its width at commissioning via
    * [[hyperplaneBandedAdaptive]]'s `widthFrom` — share planes 0–15. */
  private[ops] def lshPlanes: Seq[Seq[Float]] = lshPlanesN(16)

  private[ops] def lshPlanesN(n: Int): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(7)
    Seq.fill(n)(Seq.fill(64)(rng.nextGaussian().toFloat))
  }

  /** (vec_id, embedding, band, bucket) hyperplane-LSH banding: 4 bands
    * × 4 signed projections, each projection one codegen'd VecDot
    * against a plane literal (unrolled — a HOF lambda over a planes
    * array would interpret per element). Shared by
    * [[embeddingLshScored]] and the multi-probe query. */
  private[graft] def hyperplaneBanded(e: DataFrame): DataFrame = {
    val bandsN = 4
    val bitsPerBand = 4
    val planes = lshPlanes
    val bitCols = planes.map(p =>
      when(graft.expr.VecDot.vecDot(col("embedding"), typedlit(p)) >= 0, 1L).otherwise(0L))
    val bucketCols = (0 until bandsN).map { bn =>
      bitCols.slice(bn * bitsPerBand, (bn + 1) * bitsPerBand)
        .reduce((acc, b) => acc * 2 + b).as(s"bucket_$bn")
    }
    val sig = e.select(Seq(col("vec_id"), col("embedding")) ++ bucketCols: _*)
    sig.select(col("vec_id"), col("embedding"),
        explode(array((0 until bandsN).map(bn =>
          struct(lit(bn).as("band"), col(s"bucket_$bn").as("bucket"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** Serve a banded NEW batch against a banded history store: a batch
    * vector is rejected iff an exact-cosine-verified (≥ `thr`)
    * collision exists in the store or in an earlier batch vector
    * (doc-id precedence); survivors come back ordered. Shared by
    * dedup_incremental_embedding (grow-only store) and
    * dedup_incremental_tombstone (store minus a deletion batch) — and
    * by DedupSpec's serve-after-delete-vs-fresh-build equality pin. */
  private[graft] def incrementalEmbeddingServe(
      hist: DataFrame,
      batch: DataFrame,
      thr: Double = 0.4): DataFrame = {
    val hitStore = batch.as("b")
      .join(hist.as("h"), col("b.band") === col("h.band") &&
        col("b.bucket") === col("h.bucket"))
      .filter(VectorOps.cosine(col("b.embedding"), col("h.embedding")) >= thr)
      .select(col("b.vec_id").as("vec_id")).distinct()
    val hitEarlier = batch.as("a")
      .join(batch.as("b2"), col("a.band") === col("b2.band") &&
        col("a.bucket") === col("b2.bucket") &&
        col("b2.vec_id") < col("a.vec_id"))
      .filter(VectorOps.cosine(col("a.embedding"), col("b2.embedding")) >= thr)
      .select(col("a.vec_id").as("vec_id")).distinct()
    batch.select("vec_id").distinct()
      .join(hitStore, Seq("vec_id"), "left_anti")
      .join(hitEarlier, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** DuckDB CTE block ending in `banded(vec_id, embedding, band,
    * bucket)` — the oracle twin of [[hyperplaneBanded]]. */
  private[ops] def hyperplaneBandedCtes: String = {
    val planes = lshPlanes
    def planeLit(p: Seq[Float]) =
      "[" + p.map(_.toDouble.toString).mkString(", ") + "]"
    def bit(p: Seq[Float]) =
      s"""(CASE WHEN (list_reduce(list_transform(range(1, 65),
         | i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * (${planeLit(p)})[CAST(i AS INT)]),
         | (x, y) -> x + y)) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\n", "")
    val buckets = (0 until 4).map { bn =>
      planes.slice(bn * 4, bn * 4 + 4).map(bit)
        .reduce((acc, b) => s"(($acc) * 2 + $b)") + s" AS bucket_$bn"
    }
    val bandSelects = (0 until 4).map(bn =>
      s"SELECT vec_id, embedding, $bn AS band, bucket_$bn AS bucket FROM sig")
    s"""sig AS (
        SELECT vec_id, embedding, ${buckets.mkString(", ")} FROM embeddings),
      banded AS (${bandSelects.mkString(" UNION ALL ")})"""
  }

  /** SCALE-ADAPTIVE hyperplane banding for the bulk pair-mining path:
    * 4 bands × `bits` signed projections where
    * `bits = clamp(ceil(log2(N / 125)), 4, 8)` — bucket width tracks
    * the corpus so candidate volume stays ~O(N·bucket) instead of the
    * O(N²/2^bits) a FIXED width degenerates to (the r14 sf1 audit
    * measured the fixed 4-bit form at 110× cost for 10× data; with
    * width adaptation the same corpus mines at ~10×). All 32
    * projections are unrolled codegen'd VecDots; only the cheap bit
    * fold is a HOF, with `bits` riding a broadcast 1-row count — no
    * driver-side action, no literal recompile per corpus. At fixture
    * scale (N ≤ 2000) bits clamps to 4, so buckets — and every
    * oracle-checked result — are bit-identical to the fixed-width
    * form. The INCREMENTAL band store uses this form too but pins
    * `widthFrom` to the FULL reference corpus — the width an
    * ingestion system fixes at COMMISSIONING — because a persisted
    * band store must band new batches exactly like its history (and
    * serve-after-delete ≡ fresh-rebuild only holds when width doesn't
    * move with corpus size); its cost is O(batch × bucket density),
    * linear in the batch. Only the multiprobe SERVING path
    * (sim_ann_multiprobe) still uses [[hyperplaneBanded]]'s fixed
    * 4-bit width — its Hamming-1 probe set is enumerated per bit, so
    * width is part of that query's definition. */
  private[graft] def hyperplaneBandedAdaptive(
      e: DataFrame, widthFrom: DataFrame = null): DataFrame = {
    val bandsN = 4
    val planes = lshPlanesN(32)
    val bitCols = planes.map(p =>
      when(graft.expr.VecDot.vecDot(col("embedding"), typedlit(p)) >= 0, 1L).otherwise(0L))
    // `widthFrom`: the frame whose cardinality sets the band width.
    // Bulk mining widths on the mined corpus itself; the INCREMENTAL
    // band store widths on the FULL reference corpus — the width an
    // ingestion system fixes at commissioning — so the persisted
    // history, every later batch, and the DuckDB oracle (whose count
    // runs over the whole embeddings table) all derive the SAME width,
    // and deletions never move it (serve-after-delete ≡ fresh-rebuild
    // at any scale).
    val widthRef = Option(widthFrom).getOrElse(e)
    val bits = broadcast(widthRef.select(
      greatest(lit(4L), least(lit(8L),
        ceil(log2(count(lit(1)).cast("double") / 125.0)).cast("long"))).as("__bits")))
    e.select(col("vec_id"), col("embedding"), array(bitCols: _*).as("__s"))
      .crossJoin(bits)
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until bandsN).map(bn =>
          struct(lit(bn).as("band"),
            aggregate(
              slice(col("__s"), (col("__bits") * bn + 1).cast("int"),
                col("__bits").cast("int")),
              lit(0L), (acc, x) => acc * 2 + x).as("bucket"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** DuckDB twin of [[hyperplaneBandedAdaptive]], ending in
    * `banded(vec_id, embedding, band, bucket)` — same 32 fixed-seed
    * planes, same clamp(ceil(log2(N/125)), 4, 8) width, same
    * MSB-first fold, so both engines band identically at ANY corpus
    * size. */
  private[ops] def adaptiveHyperplaneBandedCtes: String = {
    val planes = lshPlanesN(32)
    def planeLit(p: Seq[Float]) =
      "[" + p.map(_.toDouble.toString).mkString(", ") + "]"
    def bit(p: Seq[Float]) =
      s"""(CASE WHEN (list_reduce(list_transform(range(1, 65),
         | i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * (${planeLit(p)})[CAST(i AS INT)]),
         | (x, y) -> x + y)) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\n", "")
    // MATERIALIZED throughout: `banded` feeds a self-join and, in the
    // semantic-dedup oracle, a RECURSIVE label propagation whose every
    // iteration would otherwise re-inline — and therefore recompute —
    // the full 32-projection signature pipeline (the r15 sf1 sweep
    // measured that wedge at 2+ hours for a seconds-long engine query)
    s"""lsh_bits AS MATERIALIZED (
        SELECT GREATEST(4, LEAST(8,
          CAST(CEIL(LOG2(count(*) / 125.0)) AS BIGINT))) AS b
        FROM embeddings),
      lsh_sig AS MATERIALIZED (
        SELECT vec_id, embedding,
          [${planes.map(bit).mkString(", ")}] AS s
        FROM embeddings),
      banded AS MATERIALIZED (
        SELECT vec_id, embedding, band,
          list_reduce(list_slice(s, band * b + 1, band * b + b),
            (acc, x) -> acc * 2 + x) AS bucket
        FROM lsh_sig, lsh_bits, (SELECT unnest(range(4)) AS band))"""
  }

  def embeddingLshScored(e: DataFrame): DataFrame = {
    // both sides of the bucket self-join read the band index: cut it
    // once — uncut, each side re-ran the 32 hyperplane dot products
    // per vector (r18 plan audit: the banding subtree replicated into
    // 8 scans across this stage's consumers — guide §1.2). This is
    // the band table a production pipeline persists anyway.
    val banded = Skew.cut(hyperplaneBandedAdaptive(e))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      // score INSIDE the join output and dedupe band-duplicate pairs
      // with a map-side-combined agg on (v1, v2): a pair sharing all 4
      // band buckets recomputes the (cheap, codegen'd) cosine 4×, but
      // the exchange carries 16 bytes per candidate instead of the two
      // 64-float embeddings a distinct-then-score would shuffle — at
      // sf0.1 that is ~12 MB vs ~500 MB for the same 477k candidates.
      // max() of bit-identical values is order-independent, so the
      // dedup is exact.
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .groupBy("v1", "v2").agg(max(col("cos")).as("cos"))
  }

  /** [[embeddingLshScored]] thresholded into near-dup pairs. */
  def embeddingLsh(e: DataFrame, threshold: Double = 0.4): DataFrame =
    embeddingLshScored(e)
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("v1", "v2")

  /** MinHash-LSH candidate generation + verification, reusable from the
    * spec. 32 permutations via the native [[graft.expr.MinHashSig]]
    * expression (one compiled pass, each token hashed once), 8 bands of
    * 4 rows. */
  /** (doc_id, band, key) MinHash band index on the engine-portable md5
    * hash path (32 perms, 8 bands × 4 rows) — the persistable store a
    * continuous-ingestion pipeline keeps between batches: 8 rows per
    * doc, bytes each, no text. Same hash/banding as
    * dedup_minhash_replay, so DuckDB can replay any consumer. */
  def portableBandIndex(docs: DataFrame): DataFrame = {
    import PortableHash.hexHash
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("tokens"))
    toks.select(col("doc_id"), explode(col("tokens")).as("token"))
      .select(col("doc_id"), col("token"),
        explode(sequence(lit(0), lit(31))).as("p"))
      .select(col("doc_id"), col("p"),
        hexHash(concat(col("p").cast("string"), lit(":"), col("token"))).as("h"))
      .groupBy("doc_id", "p").agg(min("h").as("m"))
      .groupBy(col("doc_id"), (col("p") / 4).cast("int").as("band"))
      .agg(sort_array(collect_list(struct(col("p"), col("m")))).as("pm"))
      .select(col("doc_id"), col("band"),
        concat_ws(",", transform(col("pm"), x => x("m").cast("string"))).as("key"))
  }

  /** Novel-batch selection against a persisted band index: a batch doc
    * (rows of `batch` = band-index rows + `source`) survives iff none
    * of its band keys hits `store` (band, key — the historical index)
    * and no earlier batch doc (smaller doc_id) shares a band key.
    * Both probes are equi-joins on the key — never all-pairs; the
    * store side carries bytes per historical doc. */
  def incrementalMinhash(batch: DataFrame, store: DataFrame): DataFrame = {
    val hitStore = batch.join(store, Seq("band", "key"), "left_semi")
      .select("doc_id").distinct()
    val hitEarlier = batch.as("a").join(batch.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id")).distinct()
    batch.select("doc_id", "source").distinct()
      .join(hitStore, Seq("doc_id"), "left_anti")
      .join(hitEarlier, Seq("doc_id"), "left_anti")
  }

  def minhashLsh(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val tokens = docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tokens"))
    val d = tokens.select(col("doc_id"), col("tokens"),
      graft.expr.MinHashSig.minhashSig(col("tokens"), numHashes = k).as("sig"))
    val banded = d.select(col("doc_id"), col("tokens"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          bn => struct(bn.as("band"),
            xxhash64(concat_ws(",",
              transform(slice(col("sig"), bn * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string"))), bn).as("bucket")))).as("bk"))
      .select(col("doc_id"), col("tokens"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.tokens").as("ta"), col("b.tokens").as("tb"))
      .distinct()
    cand
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }
}
