package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline composition: the individual
  * operators (quality filter, exact dedup, feature extraction,
  * deterministic sampling) are declared elsewhere; this module chains
  * them into the shape a real corpus-preparation job runs, as ONE
  * declarative plan — filters reach the scan, the dedup window is the
  * only shuffle, and the sample predicate is a pushable hash filter
  * (no RNG, so the oracle can replay it exactly). */
object Pipeline {

  def defs: Seq[Q] = Seq(

    Q(
      "pipeline_training_data",
      "Composed corpus-preparation pipeline over documents: language + " +
        "length quality gate → exact content dedup (md5 fingerprint, " +
        "min-doc_id survivor) → per-doc features (token count, " +
        "chars/token) → deterministic 75% hash sample (md5 of the doc " +
        "id, engine-replayable — a seeded RNG would not be). One " +
        "declarative plan: pushed filters, a single window shuffle, no " +
        "collect points.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val filtered = d
          .filter(col("lang") === "en" && col("n_chars") >= 100)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
            split(col("text"), " ").as("words"))
          .filter(size(col("words")) >= 20)
        val w = Window.partitionBy("fp").orderBy("doc_id")
        val deduped = filtered
          .withColumn("fp", md5(col("text").cast("binary")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        deduped
          .select(
            col("doc_id"), col("source"),
            size(col("words")).as("n_tokens"),
            col("n_chars"),
            round(col("n_chars").cast("double") / size(col("words")), 4)
              .as("chars_per_token"),
            col("fp"))
          .filter(
            substring(md5(concat(col("doc_id").cast("string"), lit("|graft"))
              .cast("binary")), 1, 1) < "c")
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
          SELECT doc_id, text, source, n_chars, string_split(text, ' ') AS words
          FROM documents WHERE lang = 'en' AND n_chars >= 100),
        f2 AS (SELECT * FROM f WHERE len(words) >= 20),
        d AS (SELECT *, md5(text) AS fp,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM f2)
        SELECT doc_id, source,
          CAST(len(words) AS INT) AS n_tokens,
          n_chars,
          round(CAST(n_chars AS DOUBLE) / len(words), 4) AS chars_per_token,
          fp
        FROM d
        WHERE rn = 1
          AND substring(md5(CAST(doc_id AS VARCHAR) || '|graft'), 1, 1) < 'c'
        ORDER BY doc_id""")),

    Q(
      "pipeline_train_split",
      "Deterministic 3-way train/val/test split (~80/10/10) by md5 hex " +
        "prefix of the doc id — reproducible across engines, runs, and " +
        "cluster sizes (a seeded RNG is none of those). Hex-string " +
        "comparison avoids any hex→int conversion divergence. Emits " +
        "per-language split counts (the mix report a data loader wants).",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val h = substring(
          md5(concat(col("doc_id").cast("string"), lit("|split")).cast("binary")), 1, 2)
        d.select(col("lang"),
            when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "split")
      },
      Some("""SELECT lang, split, count(*) AS n FROM (
          SELECT lang,
            CASE WHEN h < 'cc' THEN 'train'
                 WHEN h < 'e6' THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT lang,
              substring(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 2) AS h
            FROM documents))
        GROUP BY lang, split ORDER BY lang, split""")),

    Q(
      "pipeline_kfold",
      "Deterministic k-fold assignment (k=5) for cross-validation: " +
        "fold = portable 32-bit hash of the doc id mod k — " +
        "reproducible across engines, runs, and cluster sizes, and " +
        "disjoint/exhaustive by construction (every doc lands in " +
        "exactly one fold; a seeded RNG guarantees neither). Reports " +
        "per-fold document and character counts — one scan, one " +
        "keyed aggregation.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        d.select(
            (pmod(PortableHash.hexHash(
              concat(lit("kf:"), col("doc_id").cast("string"))), lit(5L)) + 1)
              .as("fold"),
            col("n_chars"))
          .groupBy("fold")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("n_chars"))
          .orderBy("fold")
      },
      Some(s"""SELECT fold, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM (SELECT
            ${PortableHash.hexHashSql("'kf:' || CAST(doc_id AS VARCHAR)")} % 5 + 1 AS fold,
            n_chars
          FROM documents)
        GROUP BY fold ORDER BY fold""")),

    Q(
      "pipeline_token_budget",
      "Capped proportional token-budget allocation across sources (one " +
        "water-filling step): per-source token totals from a map-side-" +
        "combinable hash agg, a 60% global budget split ∝ size, capped " +
        "at each source's supply, and the leftover redistributed ∝ " +
        "remaining headroom, capped again. The epoch-mixing allocator " +
        "a pretraining run uses to decide how many tokens to draw per " +
        "domain. ALL arithmetic is 64-bit integer (DIV), so both " +
        "engines agree bit-for-bit; the per-source table is tiny and " +
        "rides broadcast cross-joins — no shuffle after the first agg. " +
        "(At 10^13-token corpora the products stay under 2^63 only if " +
        "budgets are computed per-domain-group; production would widen " +
        "to DECIMAL(38,0).)",
      (s, dir) => {
        val tok = Tables.t(s, dir, "documents")
          .groupBy("source").agg(expr("sum(n_chars) DIV 4").as("tok"))
        val tot = tok.agg(sum("tok").as("t"))
        val a1 = tok.crossJoin(broadcast(tot))
          .withColumn("budget", expr("(t * 3) DIV 5"))
          .withColumn("alloc1", least(col("tok"), expr("(budget * tok) DIV t")))
        val s1 = a1.agg(sum("alloc1").as("used"),
          sum(col("tok") - col("alloc1")).as("hr"))
        a1.crossJoin(broadcast(s1))
          .withColumn("bonus", when(col("hr") > 0,
            expr("((budget - used) * (tok - alloc1)) DIV hr")).otherwise(lit(0L)))
          .withColumn("alloc", least(col("tok"), col("alloc1") + col("bonus")))
          .select(col("source"), col("tok"), col("alloc"),
            round(col("alloc").cast("double") / col("tok"), 4).as("fill_ratio"))
          .orderBy("source")
      },
      Some("""WITH tok AS (SELECT source,
            CAST(sum(n_chars) AS BIGINT) // 4 AS tok
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM tok),
        a1 AS (SELECT source, tok,
            (t * 3) // 5 AS budget,
            least(tok, ((t * 3) // 5) * tok // t) AS alloc1
          FROM tok, tot),
        s1 AS (SELECT CAST(sum(alloc1) AS BIGINT) AS used,
            CAST(sum(tok - alloc1) AS BIGINT) AS hr FROM a1),
        f AS (SELECT source, tok,
            least(tok, alloc1 + CASE WHEN hr > 0
              THEN ((budget - used) * (tok - alloc1)) // hr ELSE 0 END) AS alloc
          FROM a1, s1)
        SELECT source, tok, alloc,
          round(CAST(alloc AS DOUBLE) / tok, 4) AS fill_ratio
        FROM f ORDER BY source""")),

    Q(
      "pipeline_curriculum",
      "Sequence-length curriculum schedule: docs split into three " +
        "phases by global length tercile (short→long = easy→hard, the " +
        "classic length curriculum) via Skew.globalNtile — range-" +
        "repartitioned rank + broadcast offsets, NO single-task " +
        "window — with a portable-hash order key shuffling docs " +
        "within each phase. ORDER BY (phase, order_key, doc_id) IS " +
        "the training order, reproducible on any engine or cluster " +
        "size; a trainer consumes it as-is.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        Skew.globalNtile(d.select(col("doc_id"), col("n_chars")),
            Seq(col("n_chars"), col("doc_id")), 3, "phase")
          .select(col("doc_id"), col("phase").cast("int").as("phase"),
            pmod(PortableHash.hexHash(
              concat(lit("cur:"), col("doc_id").cast("string"))), lit(1000000L))
              .as("order_key"))
          .orderBy("phase", "order_key", "doc_id")
      },
      Some(s"""SELECT doc_id,
          CAST(ntile(3) OVER (ORDER BY n_chars, doc_id) AS INT) AS phase,
          ${PortableHash.hexHashSql("'cur:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS order_key
        FROM documents
        ORDER BY phase, order_key, doc_id""")),

    Q(
      "pipeline_canonical_dedup",
      "Near-dup canonicalization end-to-end: Jaccard candidate pairs → " +
        "connected components → ONE survivor per cluster by quality " +
        "(longest doc, doc-id tie-break). Unclustered docs are their own " +
        "canonical. This is the cluster-then-pick step between candidate " +
        "generation and the actual drop in a production dedup pipeline; " +
        "oracle = DuckDB recursive CTE + the same argmax window. " +
        "Clustering here runs the alternating large-star/small-star " +
        "algorithm (diameter-independent O(log²) rounds — the web-scale " +
        "path) until the edge set fits Spark's broadcast budget " +
        "(edges × 24 B ≤ spark.sql.autoBroadcastJoinThreshold), then " +
        "finishes with union-find on the driver; dedup_components runs " +
        "min-label propagation: both declared, both oracle-checked, " +
        "spec-pinned equivalent.",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
        val stats = Dedup.ngramJaccardStats(docs, hotThreshold = 20)
        val edges = stats.filter(col("jaccard") >= 0.10)
          .select(col("d1").as("src"), col("d2").as("dst"))
        val comps = Dedup.connectedComponentsStar(edges)
        val labeled = docs.select(col("doc_id"), col("n_chars"))
          .join(comps, docs("doc_id") === comps("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"),
            col("n_chars"))
        val w = Window.partitionBy("component")
          .orderBy(col("n_chars").desc, col("doc_id"))
        labeled
          .withColumn("rk", row_number().over(w))
          .select(col("doc_id"), col("component"), col("n_chars"),
            (col("rk") === 1).as("canonical"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
        w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words
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
        labeled AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
          FROM w d LEFT JOIN comp c ON d.doc_id = c.node)
        SELECT doc_id, component, n_chars,
          row_number() OVER (PARTITION BY component
            ORDER BY n_chars DESC, doc_id) = 1 AS canonical
        FROM labeled ORDER BY doc_id""")),

    Q(
      "pipeline_semantic_dedup",
      "SemDeDup-shaped semantic deduplication end-to-end, fully " +
        "oracle-checked: hyperplane-LSH buckets generate candidate " +
        "pairs (never all-pairs), exact cosine ≥ 0.4 verifies them, " +
        "connected components (large-star/small-star — the " +
        "diameter-independent web-scale algorithm — rounds until the " +
        "edge set fits the broadcast budget, edges × 24 B ≤ " +
        "spark.sql.autoBroadcastJoinThreshold, then union-find on the " +
        "driver) groups transitive near-dups, and ONE survivor per " +
        "group is kept (the min-id " +
        "root). Unclustered vectors are their own survivor. Every " +
        "stage is engine-replayable: fixed-seed hyperplanes inlined as " +
        "double literals, the bit-identical fold cosine, and a " +
        "recursive-CTE min-label propagation as the clustering " +
        "oracle. This is the embedding-space counterpart of " +
        "pipeline_canonical_dedup's token-space dedup.",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        val edges = Dedup.embeddingLsh(e)
          .select(col("v1").as("src"), col("v2").as("dst"))
        val comps = Dedup.connectedComponentsStar(edges)
        e.select(col("vec_id"))
          .join(comps, col("vec_id") === col("node"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("vec_id")).as("component"),
            (coalesce(col("component"), col("vec_id")) === col("vec_id")).as("keep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${Dedup.embeddingLshScoredCtes},
        pairs AS MATERIALIZED (SELECT v1, v2 FROM scored WHERE cos >= 0.4),
        edges AS MATERIALIZED (SELECT v1 AS a, v2 AS b FROM pairs
          UNION SELECT v2, v1 FROM pairs),
        nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edges),
        r(node, lbl) AS (SELECT node, node FROM nodes
          UNION SELECT e.b, r.lbl FROM edges e JOIN r ON e.a = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node)
        SELECT v.vec_id,
          coalesce(c.component, v.vec_id) AS component,
          coalesce(c.component, v.vec_id) = v.vec_id AS keep
        FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.node
        ORDER BY v.vec_id""")),

    Q(
      "pipeline_curation",
      "The canonical pretraining-corpus curation chain end-to-end, one " +
        "declarative plan: heuristic quality gate (lang/length) → exact " +
        "content dedup (md5 fingerprint, min-doc_id survivor) → " +
        "model-based perplexity filter — a unigram LM is fit ON THE " +
        "SURVIVING corpus (filter-then-fit, the CCNet ordering; fitting " +
        "before dedup would let boilerplate dupes drag the model toward " +
        "themselves), each survivor scored in bits-per-token, and the " +
        "worst tercile marked dropped. The gate filters reach the scan, " +
        "dedup is the only corpus-wide shuffle, the vocabulary table " +
        "broadcasts, and the tercile is [[Skew.globalNtile]] — range-" +
        "repartitioned rank + broadcast offsets, bit-identical to the " +
        "ntile oracle with NO single-task global window (the round-6 " +
        "unpartitioned-window version failed the repo's own plan " +
        "lint). Per-doc double sums are sorted " +
        "sequential folds (bit-identical to DuckDB's list_sort + " +
        "list_reduce), so the tercile cut — and therefore the kept set " +
        "— replays exactly.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val gated = d.filter(col("lang") === "en" && col("n_chars") >= 100)
          .select(col("doc_id"), col("text"),
            split(col("text"), " ").as("words"))
          .filter(size(col("words")) >= 20)
        val wd = Window.partitionBy("fp").orderBy("doc_id")
        val kept = gated
          .withColumn("fp", md5(col("text").cast("binary")))
          .withColumn("rn", row_number().over(wd))
          .filter(col("rn") === 1)
          .select("doc_id", "text")
        val tok = kept.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        val freq = tok.groupBy("token").agg(count(lit(1)).as("n"))
        val total = tok.agg(count(lit(1)).as("t"))
        val scored = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
          .join(broadcast(freq), "token")
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("c"),
            (col("c").cast("double") *
              log(col("n") / col("t").cast("double"))).as("x"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tok"), sort_array(collect_list(col("x"))).as("xs"))
          .select(col("doc_id"), col("n_tok"),
            round(-aggregate(col("xs"), lit(0.0), (a, x) => a + x) /
              col("n_tok") / math.log(2.0), 6).as("bits_per_token"))
        Skew.globalNtile(scored,
            Seq(col("bits_per_token"), col("doc_id")), 3, "tercile")
          .select(col("doc_id"), col("n_tok"), col("bits_per_token"),
            when(col("tercile") === 1, "head")
              .when(col("tercile") === 2, "middle")
              .otherwise("tail").as("bucket"),
            (col("tercile") <= 2).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, text, string_split(text, ' ') AS words
          FROM documents WHERE lang = 'en' AND n_chars >= 100),
        g2 AS (SELECT doc_id, text FROM g WHERE len(words) >= 20),
        k AS (SELECT doc_id, text FROM (
            SELECT doc_id, text,
              row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM g2) WHERE rn = 1),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM k),
        freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS t FROM tok),
        cnt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        terms AS (
          SELECT doc_id, c,
            CAST(c AS DOUBLE) * ln(freq.n / CAST(tot.t AS DOUBLE)) AS x
          FROM cnt JOIN freq USING (token) CROSS JOIN tot),
        agg AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
            list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sx
          FROM terms GROUP BY doc_id),
        ub AS (SELECT doc_id, n_tok,
            round(-sx / n_tok / ln(2), 6) AS bits_per_token FROM agg),
        t AS (SELECT doc_id, n_tok, bits_per_token,
            ntile(3) OVER (ORDER BY bits_per_token, doc_id) AS tercile FROM ub)
        SELECT doc_id, n_tok, bits_per_token,
          CASE WHEN tercile = 1 THEN 'head'
               WHEN tercile = 2 THEN 'middle'
               ELSE 'tail' END AS bucket,
          tercile <= 2 AS keep
        FROM t ORDER BY doc_id""")),

    Q(
      "pipeline_pretrain",
      "The FULL pretraining-data preparation job, one declarative " +
        "plan chaining six operator families end to end: (1) heuristic " +
        "quality gate (lang/length — filters reach the scan); (2) " +
        "exact content dedup (md5 fingerprint window, min-doc_id " +
        "survivor); (3) near-dup removal over 5-GRAM-shingle Jaccard " +
        "≥ 0.5 — the hot-salted candidate join dedup_ngram_jaccard " +
        "pins, widened to the production shingle width so per-shingle " +
        "document frequency (and with it the Σdf² pair fan-out) stays " +
        "bounded on a FULL corpus pass, with the greedy keep-first " +
        "rule (a doc drops iff it pairs with ANY smaller id; " +
        "pipeline_canonical_dedup is the component-accurate variant); " +
        "(4) model-based filter — unigram " +
        "LM fit ON the surviving corpus (filter-then-fit, CCNet " +
        "ordering), worst bits-per-token tercile dropped via the " +
        "scale-safe Skew.globalNtile; (5) domain-mix reweighting " +
        "(τ=0.5 temperature over per-source token counts of what " +
        "SURVIVED, so the mixture reflects the corpus a trainer would " +
        "actually see); (6) weighted sample — the Efraimidis–Spirakis " +
        "md5 race, top 60, one TakeOrderedAndProject. Source rides the " +
        "token aggregation as a dependent group key, so no corpus-" +
        "sized rejoin; every stage is the declared operator's exact " +
        "dataflow and the whole chain replays bit-for-bit in DuckDB.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val gated = d.filter(col("lang") === "en" && col("n_chars") >= 100)
          .select(col("doc_id"), col("text"), col("source"),
            split(col("text"), " ").as("words"))
          .filter(size(col("words")) >= 20)
        val wd = Window.partitionBy("fp").orderBy("doc_id")
        // materialize the exact-dedup survivors ONCE: four subtrees
        // read them (both sides + the hot-key pass of the shingle
        // self-join, and the anti-join below) — without the checkpoint
        // each replays the gate+window chain from the scan
        val exact = gated
          .withColumn("fp", md5(col("text").cast("binary")))
          .withColumn("rn", row_number().over(wd))
          .filter(col("rn") === 1)
          .select("doc_id", "text", "source")
          .transform(Skew.cut)
        // materialize the exploded 5-gram shingle table ONCE (the
        // standard intermediate a production dedup job persists): the
        // candidate join reads it three ways (both sides + the hot-key
        // pass) and the size table a fourth — fed lazily, each subtree
        // would re-run shingle generation over the corpus
        val shingles = exact.select(col("doc_id"),
            explode(array_distinct(TextFns.wordGrams(
              split(col("text"), " "), 5))).as("shingle"))
          .transform(Skew.cut)
        val dropped = Dedup.shingleJaccardStats(shingles, hotThreshold = 20)
          .filter(col("jaccard") >= 0.5)
          .select(col("d2").as("doc_id")).distinct()
        // materialize the survivor set ONCE: three aggregation subtrees
        // (vocab, total, per-doc counts) all read it, and without the
        // checkpoint each replays the gate→dedup→near-dup chain
        // (shingle join included) from the scan
        val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
          .transform(Skew.cut)
        val tok = kept.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("token"))
        val freq = tok.groupBy("token").agg(count(lit(1)).as("n"))
        val total = tok.agg(count(lit(1)).as("t"))
        val scored = tok.groupBy("doc_id", "source", "token")
          .agg(count(lit(1)).as("c"))
          .join(broadcast(freq), "token")
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("source"), col("c"),
            (col("c").cast("double") *
              log(col("n") / col("t").cast("double"))).as("x"))
          .groupBy("doc_id", "source")
          .agg(sum("c").as("n_tok"),
            sort_array(collect_list(col("x"))).as("xs"))
          .select(col("doc_id"), col("source"), col("n_tok"),
            round(-aggregate(col("xs"), lit(0.0), (a, x) => a + x) /
              col("n_tok") / math.log(2.0), 6).as("bits_per_token"))
        // narrow per-doc frame, read twice (mix normalizers + sample)
        val keep2 = Skew.globalNtile(scored,
            Seq(col("bits_per_token"), col("doc_id")), 3, "tercile")
          .filter(col("tercile") <= 2)
          .transform(Skew.cut)
        val per = keep2.groupBy("source").agg(sum("n_tok").as("src_tokens"))
        val tot = per.agg(sum("src_tokens").as("tt"),
            sort_array(collect_list(sqrt(col("src_tokens").cast("double"))))
              .as("ss"))
          .select(col("tt"),
            aggregate(col("ss"), lit(0.0), (a, x) => a + x).as("sq"))
        val u = (PortableHash.hexHash(
            concat(lit("pp:"), col("doc_id").cast("string"))) + 1)
          .cast("double") / lit(4294967296.0)
        keep2.join(broadcast(per), "source").crossJoin(broadcast(tot))
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("bits_per_token"),
            round((sqrt(col("src_tokens").cast("double")) / col("sq")) /
              (col("src_tokens") / col("tt").cast("double")), 6).as("w"))
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("bits_per_token"), col("w"),
            round(-log(u) / col("w"), 12).as("es_key"))
          .orderBy(col("es_key"), col("doc_id"))
          .limit(60)
      },
      Some(s"""WITH g AS (
          SELECT doc_id, text, source, string_split(text, ' ') AS words
          FROM documents WHERE lang = 'en' AND n_chars >= 100),
        g2 AS (SELECT doc_id, text, source FROM g WHERE len(words) >= 20),
        k AS (SELECT doc_id, text, source FROM (
            SELECT doc_id, text, source,
              row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM g2) WHERE rn = 1),
        w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM k),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 3),
            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i + 1 AS INT)]
              || ' ' || words[CAST(i + 2 AS INT)] || ' ' || words[CAST(i + 3 AS INT)]
              || ' ' || words[CAST(i + 4 AS INT)])) AS shingles
          FROM w2),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        dropped AS (SELECT DISTINCT d2 AS doc_id FROM pairs
          JOIN sizes sa ON sa.doc_id = d1
          JOIN sizes sb ON sb.doc_id = d2
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
        kept AS (SELECT * FROM k
          WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
        tok AS (SELECT doc_id, source,
            unnest(string_split(text, ' ')) AS token FROM kept),
        freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS t FROM tok),
        cnt AS (SELECT doc_id, source, token, count(*) AS c
          FROM tok GROUP BY 1, 2, 3),
        terms AS (SELECT doc_id, source, c,
            CAST(c AS DOUBLE) * ln(freq.n / CAST(tot.t AS DOUBLE)) AS x
          FROM cnt JOIN freq USING (token) CROSS JOIN tot),
        agg AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
            list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sx
          FROM terms GROUP BY 1, 2),
        sc AS (SELECT doc_id, source, n_tok,
            round(-sx / n_tok / ln(2.0), 6) AS bits_per_token FROM agg),
        bk AS (SELECT *, ntile(3) OVER (ORDER BY bits_per_token, doc_id)
            AS tercile FROM sc),
        keep2 AS (SELECT doc_id, source, n_tok, bits_per_token
          FROM bk WHERE tercile <= 2),
        per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
          FROM keep2 GROUP BY 1),
        tt AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tt,
            list_reduce(list_sort(list(sqrt(CAST(src_tokens AS DOUBLE)))),
              (a, b) -> a + b) AS sq FROM per),
        wt AS (SELECT k2.doc_id, k2.source, k2.n_tok, k2.bits_per_token,
            round((sqrt(CAST(p.src_tokens AS DOUBLE)) / tt.sq)
              / (p.src_tokens / CAST(tt.tt AS DOUBLE)), 6) AS w
          FROM keep2 k2 JOIN per p USING (source) CROSS JOIN tt),
        es AS (SELECT doc_id, source, n_tok, bits_per_token, w,
            round(-ln((${PortableHash.hexHashSql(
              "'pp:' || CAST(doc_id AS VARCHAR)")} + 1)
              / 4294967296.0) / w, 12) AS es_key
          FROM wt)
        SELECT doc_id, source, n_tok, bits_per_token, w, es_key
        FROM es ORDER BY es_key, doc_id LIMIT 60""")),

    Q(
      "pipeline_domain_mix",
      "Domain-mixture rebalancing (the step that decides how much of " +
        "each source a training run samples): per-source document and " +
        "token counts, the actual token share, and resampling weights " +
        "for two published target mixtures — uniform-over-sources and " +
        "the τ=0.5 temperature mixture (share ∝ √tokens, the standard " +
        "multilingual-LM sampling rule; DoReMi replaces these targets " +
        "with proxy-model weights, the dataflow is identical). Token " +
        "counts come from size(split(…)) in the scan — no explode, no " +
        "token-level shuffle — and reduce to one tiny grouped table; " +
        "the cross-source normalizers ride a 1-row broadcast whose √ " +
        "sum is a sorted fold, so every weight is bit-identical. " +
        "Weights feed sample_weighted/sample_mixture_weighted " +
        "downstream.",
      (s, dir) => {
        val per = Tables.t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("nt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        val tot = per.agg(
            sum("n_tokens").as("tt"), count(lit(1)).as("ns"),
            sort_array(collect_list(sqrt(col("n_tokens").cast("double"))))
              .as("ss"))
          .select(col("tt"), col("ns"),
            aggregate(col("ss"), lit(0.0), (a, x) => a + x).as("sq"))
        val share = col("n_tokens") / col("tt").cast("double")
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(share, 6).as("token_share"),
            round((lit(1.0) / col("ns")) / share, 6).as("w_uniform"),
            round((sqrt(col("n_tokens").cast("double")) / col("sq")) / share, 6)
              .as("w_temp05"))
          .orderBy("source")
      },
      Some("""WITH per AS (
          SELECT source, count(*) AS n_docs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
            count(*) AS ns,
            list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
              (a, b) -> a + b) AS sq
          FROM per)
        SELECT source, n_docs, n_tokens,
          round(n_tokens / CAST(tt AS DOUBLE), 6) AS token_share,
          round((1.0 / ns) / (n_tokens / CAST(tt AS DOUBLE)), 6) AS w_uniform,
          round((sqrt(CAST(n_tokens AS DOUBLE)) / sq)
            / (n_tokens / CAST(tt AS DOUBLE)), 6) AS w_temp05
        FROM per CROSS JOIN tot ORDER BY source""")),

    Q(
      "pipeline_shard_assign",
      "Token-balanced shard assignment — the step that splits a " +
        "prepared corpus into the N output files a dataloader reads: " +
        "docs ranked by token count (descending, doc_id tie-break) via " +
        "the scale-safe [[Skew.globalRank]], then dealt serpentine " +
        "(boustrophedon) across 8 shards — pass p assigns rank " +
        "positions left-to-right when p is even and right-to-left when " +
        "odd, the classic LPT-style balance that keeps every shard's " +
        "token total within one document of its neighbors without any " +
        "sequential greedy state. Pure integer arithmetic on the rank, " +
        "so the oracle replays it from row_number(); pos is the " +
        "within-shard write position (= the pass index). No " +
        "single-task window anywhere; the ranked frame is two narrow " +
        "columns however large the corpus.",
      (s, dir) => {
        val n = 8L
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        Skew.globalRank(d, Seq(col("n_tok").desc, col("doc_id")),
            rankCol = "r")
          .withColumn("pass", Skew.idiv(col("r") - 1, lit(n)))
          .withColumn("m", pmod(col("r") - 1, lit(n)))
          .select(col("doc_id"), col("n_tok"),
            when(pmod(col("pass"), lit(2L)) === 0, col("m"))
              .otherwise(lit(n - 1) - col("m")).as("shard"),
            col("pass").as("pos"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        r AS (SELECT doc_id, n_tok,
            row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r FROM d)
        SELECT doc_id, n_tok,
          CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
            ELSE 7 - ((r - 1) % 8) END AS BIGINT) AS shard,
          CAST((r - 1) // 8 AS BIGINT) AS pos
        FROM r ORDER BY doc_id""")),

    Q(
      "pipeline_corpus_shuffle",
      "Deterministic global corpus shuffle + contiguous sharding — the " +
        "final step before training: every epoch-0 dataloader wants " +
        "the corpus in a reproducible pseudo-random order, split into " +
        "N contiguous shard files. Shuffle key = the engine-portable " +
        "md5 hash of the doc id (replayable; a seeded RNG would not " +
        "be), global position via [[Skew.globalRank]] (range exchange " +
        "+ broadcast offsets — no single-task sort), shard = position " +
        "div ceil(total/N) so each shard file is one contiguous slice " +
        "of the shuffled sequence, pos = the offset inside it. The " +
        "total row count rides globalRank's 1-row broadcast — no " +
        "second corpus scan.",
      (s, dir) => {
        val n = 8L
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), PortableHash.hexHash(
            concat(lit("shuf:"), col("doc_id").cast("string")))
            .as("shuffle_key"))
        Skew.globalRank(d, Seq(col("shuffle_key"), col("doc_id")),
            rankCol = "r", totalCol = Some("total"))
          .withColumn("cap", Skew.idiv(col("total") + lit(n - 1), lit(n)))
          .select(col("doc_id"), col("shuffle_key"),
            Skew.idiv(col("r") - 1, col("cap")).as("shard"),
            pmod(col("r") - 1, col("cap")).as("pos"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id,
            ${PortableHash.hexHashSql("'shuf:' || CAST(doc_id AS VARCHAR)")}
              AS shuffle_key
          FROM documents),
        r AS (SELECT doc_id, shuffle_key,
            row_number() OVER (ORDER BY shuffle_key, doc_id) AS r,
            count(*) OVER () AS total FROM d),
        c AS (SELECT *, (total + 7) // 8 AS cap FROM r)
        SELECT doc_id, shuffle_key,
          CAST((r - 1) // cap AS BIGINT) AS shard,
          CAST((r - 1) % cap AS BIGINT) AS pos
        FROM c ORDER BY doc_id""")),

    Q(
      "pipeline_data_card",
      "The corpus datasheet (data-card) report a curated release " +
        "ships with: per (source, lang) cell — with per-source " +
        "subtotals and the corpus grand total via ROLLUP, one Expand + " +
        "one hash aggregate, a single shuffle — document and token " +
        "counts, token share of the whole corpus, mean and max " +
        "document length in tokens. Token counts come from " +
        "size(split(...)) in the scan (no explode, no token-level " +
        "shuffle); the grand-total normalizer rides a 1-row broadcast. " +
        "The report is O(sources x langs) however large the corpus.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("nt"))
        val tot = d.agg(sum("nt").as("tt"))
        d.rollup(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
            max("nt").as("max_tokens"),
            grouping(col("source")).cast("int").as("g_src"),
            grouping(col("lang")).cast("int").as("g_lang"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("n_docs"),
            col("n_tokens"),
            round(col("n_tokens") / col("tt").cast("double"), 6)
              .as("token_share"),
            round(col("n_tokens") / col("n_docs").cast("double"), 6)
              .as("mean_tokens"),
            col("max_tokens"), col("g_src"), col("g_lang"))
          .orderBy(col("g_src"), col("g_lang"),
            col("source").asc_nulls_first, col("lang").asc_nulls_first)
      },
      Some("""WITH d AS (SELECT source, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
          FROM documents),
        tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM d)
        SELECT source, lang, count(*) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS n_tokens,
          round(CAST(sum(nt) AS BIGINT) / CAST(tt AS DOUBLE), 6)
            AS token_share,
          round(CAST(sum(nt) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
            AS mean_tokens,
          max(nt) AS max_tokens,
          CAST(GROUPING(source) AS INT) AS g_src,
          CAST(GROUPING(lang) AS INT) AS g_lang
        FROM d CROSS JOIN tot
        GROUP BY ROLLUP(source, lang), tt
        ORDER BY g_src, g_lang, source NULLS FIRST, lang NULLS FIRST""")),

    Q(
      "pipeline_pref_pairs",
      "Preference-pair construction (the DPO/RLHF data shape): within " +
        "each (lang, source) bucket with at least two documents, pair " +
        "the highest-scoring document (chosen) with the lowest " +
        "(rejected) under a deterministic quality score — here " +
        "unique-token ratio × log10 of length, the same class of " +
        "heuristic text_quality_logistic trains on. Two partitioned " +
        "rank windows over one scored scan, self-joined on the " +
        "bucket; ties broken by doc_id, so pairing is total. Margin " +
        "is the score gap. Scales as a per-bucket window + a " +
        "bucket-keyed equi-join — no global structure.",
      (s, dir) => {
        val scored = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            split(col("text"), " ").as("ws"))
          .select(col("doc_id"), col("lang"), col("source"),
            (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))
              * log(10.0, size(col("ws")).cast("double"))).as("score"))
        val wUp = Window.partitionBy("lang", "source")
          .orderBy(col("score").desc, col("doc_id"))
        val wDn = Window.partitionBy("lang", "source")
          .orderBy(col("score").asc, col("doc_id").desc)
        val ranked = scored
          .withColumn("rbest", row_number().over(wUp))
          .withColumn("rworst", row_number().over(wDn))
        val best = ranked.filter(col("rbest") === 1)
          .select(col("lang"), col("source"),
            col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
        val worst = ranked.filter(col("rworst") === 1)
          .select(col("lang"), col("source"),
            col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
        best.join(worst, Seq("lang", "source"))
          .filter(col("chosen_id") =!= col("rejected_id"))
          .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"),
            round(col("chosen_score") - col("rejected_score"), 6).as("margin"))
          .orderBy("lang", "source")
      },
      Some("""WITH scored AS (SELECT doc_id, lang, source,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' '))
              * log10(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS score
          FROM documents),
        rk AS (SELECT *,
            row_number() OVER (PARTITION BY lang, source
              ORDER BY score DESC, doc_id) AS rbest,
            row_number() OVER (PARTITION BY lang, source
              ORDER BY score ASC, doc_id DESC) AS rworst
          FROM scored),
        best AS (SELECT lang, source, doc_id AS chosen_id,
            score AS chosen_score FROM rk WHERE rbest = 1),
        worst AS (SELECT lang, source, doc_id AS rejected_id,
            score AS rejected_score FROM rk WHERE rworst = 1)
        SELECT lang, source, chosen_id, rejected_id,
          round(chosen_score - rejected_score, 6) AS margin
        FROM best JOIN worst USING (lang, source)
        WHERE chosen_id != rejected_id
        ORDER BY lang, source""")),

    Q(
      "pipeline_annotation_vote",
      "Multi-labeler agreement audit: three deterministic heuristic " +
        "quality labelers (length ≥ 300 chars; non-space alpha ratio " +
        "≥ 0.8; mean word length ≥ 4) vote per document; per source " +
        "the query reports the majority-good share and all three " +
        "pairwise agreement rates — the inter-annotator-consistency " +
        "check run before trusting any labeling pipeline, model- or " +
        "human-generated. One scan, one hash aggregation; every vote " +
        "is an integer comparison so agreement counts are exact.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            length(col("text")).as("len"),
            length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("alpha"),
            length(regexp_replace(col("text"), " ", "")).as("nospace"),
            size(split(col("text"), " ")).as("nw"))
          .select(col("source"),
            (col("len") >= 300).cast("int").as("la"),
            (col("alpha").cast("double") / col("nospace") >= 0.8).cast("int").as("lb"),
            (col("nospace").cast("double") / col("nw") >= 4.0).cast("int").as("lc"))
        d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg((col("la") + col("lb") + col("lc") >= 2).cast("int")), 4)
              .as("majority_good"),
            round(avg((col("la") === col("lb")).cast("int")), 4).as("agree_ab"),
            round(avg((col("la") === col("lc")).cast("int")), 4).as("agree_ac"),
            round(avg((col("lb") === col("lc")).cast("int")), 4).as("agree_bc"))
          .orderBy("source")
      },
      Some("""WITH v AS (SELECT source,
            CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS la,
            CASE WHEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / length(replace(text, ' ', '')) >= 0.8 THEN 1 ELSE 0 END AS lb,
            CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')) >= 4.0 THEN 1 ELSE 0 END AS lc
          FROM documents)
        SELECT source, count(*) AS n_docs,
          round(avg(CASE WHEN la + lb + lc >= 2 THEN 1 ELSE 0 END), 4) AS majority_good,
          round(avg(CASE WHEN la = lb THEN 1 ELSE 0 END), 4) AS agree_ab,
          round(avg(CASE WHEN la = lc THEN 1 ELSE 0 END), 4) AS agree_ac,
          round(avg(CASE WHEN lb = lc THEN 1 ELSE 0 END), 4) AS agree_bc
        FROM v GROUP BY source ORDER BY source""")),

    Q(
      "pipeline_dpo_prep",
      "End-to-end preference-data preparation — the composed DPO " +
        "pipeline: quality gate (length floor) → exact dedup " +
        "(md5-content survivor, min-id) → per-language preference " +
        "pair under the deterministic quality score → reproducible " +
        "train/val split by portable content hash. Four operator " +
        "families in one dataflow, each stage the scale-safe " +
        "spelling (partitioned windows, content-hash keyed dedup, no " +
        "global structure); every intermediate is integer/hash-" +
        "deterministic so the whole pipeline replays in DuckDB.",
      (s, dir) => {
        import PortableHash.hexHash
        val wD = Window.partitionBy("h").orderBy("doc_id")
        val surv = Tables.t(s, dir, "documents")
          .filter(col("n_chars") >= 150)
          .withColumn("h", md5(col("text")))
          .withColumn("rk", row_number().over(wD))
          .filter(col("rk") === 1)
        val scored = surv
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), col("lang"),
            (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))
              * log(10.0, size(col("ws")).cast("double"))).as("score"))
        val wUp = Window.partitionBy("lang").orderBy(col("score").desc, col("doc_id"))
        val wDn = Window.partitionBy("lang").orderBy(col("score").asc, col("doc_id").desc)
        val rk = scored
          .withColumn("rb", row_number().over(wUp))
          .withColumn("rw", row_number().over(wDn))
        val best = rk.filter(col("rb") === 1)
          .select(col("lang"), col("doc_id").as("chosen_id"), col("score").as("cs"))
        val worst = rk.filter(col("rw") === 1)
          .select(col("lang"), col("doc_id").as("rejected_id"), col("score").as("rs"))
        best.join(worst, Seq("lang"))
          .filter(col("chosen_id") =!= col("rejected_id"))
          .select(col("lang"), col("chosen_id"), col("rejected_id"),
            round(col("cs") - col("rs"), 6).as("margin"),
            when(pmod(hexHash(concat(lit("dpo:"), col("chosen_id"))), lit(10L)) < 8,
              "train").otherwise("val").as("split"))
          .orderBy("lang")
      },
      Some("""WITH g AS (SELECT doc_id, lang, text FROM documents
          WHERE n_chars >= 150),
        s0 AS (SELECT doc_id, lang, text,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
          FROM g),
        surv AS (SELECT doc_id, lang, text FROM s0 WHERE rk = 1),
        sc AS (SELECT doc_id, lang,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' '))
              * log10(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS score
          FROM surv),
        rk AS (SELECT *,
            row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rb,
            row_number() OVER (PARTITION BY lang ORDER BY score ASC, doc_id DESC) AS rw
          FROM sc),
        best AS (SELECT lang, doc_id AS chosen_id, score AS cs FROM rk WHERE rb = 1),
        worst AS (SELECT lang, doc_id AS rejected_id, score AS rs FROM rk WHERE rw = 1)
        SELECT lang, chosen_id, rejected_id, round(cs - rs, 6) AS margin,
          CASE WHEN CAST(('0x' || substring(md5('dpo:' || CAST(chosen_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 10 < 8 THEN 'train' ELSE 'val' END AS split
        FROM best JOIN worst USING (lang)
        WHERE chosen_id != rejected_id ORDER BY lang""")),

    Q(
      "pipeline_quality_sweep",
      "Quality-threshold ablation — corpus retention and mean doc " +
        "length at five type/token-ratio gates (the sweep a curation " +
        "team runs before committing a filter: how much data does " +
        "each notch cost, and does it skew length?). The gate " +
        "uniq/total ≥ t% is evaluated in cross-multiplied integers " +
        "(100·distinct ≥ t·total), so no threshold can land on a " +
        "float edge; ONE tokenize-free scan computes both counts per " +
        "doc, the five thresholds explode from a literal array, and " +
        "the rollup is one hash aggregation — the whole sweep costs " +
        "one pass regardless of how many notches are probed.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("tot"),
            size(array_distinct(split(col("text"), " "))).cast("long")
              .as("uniq"))
        val nTot = d.agg(count(lit(1)).as("nd"))
        d.select(col("n_chars"), col("tot"), col("uniq"),
            explode(array(lit(30), lit(40), lit(50), lit(60), lit(70)))
              .as("threshold"))
          .filter(col("uniq") * 100 >= col("threshold") * col("tot"))
          .groupBy("threshold")
          .agg(count(lit(1)).as("n_retained"),
            sum("n_chars").as("sc"))
          .crossJoin(broadcast(nTot))
          .select(col("threshold"), col("n_retained"),
            round(col("n_retained").cast("double") / col("nd"), 4)
              .as("retained_frac"),
            round(col("sc").cast("double") / col("n_retained"), 2)
              .as("mean_chars"))
          .orderBy("threshold")
      },
      Some("""WITH d AS (SELECT doc_id, n_chars,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tot,
            CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
              AS uniq
          FROM documents),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
        x AS (SELECT n_chars, tot, uniq, unnest([30, 40, 50, 60, 70])
            AS threshold
          FROM d)
        SELECT CAST(threshold AS INT) AS threshold,
          count(*) AS n_retained,
          round(CAST(count(*) AS DOUBLE) / max(nd), 4) AS retained_frac,
          round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS mean_chars
        FROM x CROSS JOIN nt
        WHERE uniq * 100 >= threshold * tot
        GROUP BY threshold ORDER BY threshold""")),

    Q(
      "pipeline_pad_waste",
      "Padding-waste audit for batch assembly — the fraction of " +
        "compute burned on pad tokens when documents batch in hash " +
        "order vs length-sorted order, at batch sizes 16 and 64 " +
        "(the measurement that justifies length-bucketed batching: " +
        "sorted batching typically cuts pad waste several-fold). " +
        "Both orderings are total and deterministic — length-sorted " +
        "by (len, doc_id), 'random' by the engine-portable md5 hash " +
        "— and both get their global position from Skew.globalRank " +
        "(range repartition + broadcast offsets, NO single-task " +
        "window); waste per batch is max·n − Σlen in exact integers.",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("len"))
        def waste(ordered: org.apache.spark.sql.DataFrame, tag: String) = {
          val withB = ordered.select(col("len"), col("r"),
            explode(array(lit(16), lit(64))).as("bsz"))
          withB
            .select(col("len"), col("bsz"),
              Skew.idiv(col("r") - 1, col("bsz").cast("long")).as("batch"))
            .groupBy("bsz", "batch")
            .agg(count(lit(1)).as("n"), max("len").as("mx"),
              sum("len").as("sl"))
            .groupBy("bsz")
            .agg(count(lit(1)).as("n_batches"),
              sum(col("mx") * col("n") - col("sl")).as("pad"),
              sum("sl").as("tok"))
            .select(lit(tag).as("strategy"), col("bsz"), col("n_batches"),
              round(col("pad").cast("double") / col("tok"), 4)
                .as("pad_ratio"))
        }
        val sorted = Skew.globalRank(d, Seq(col("len"), col("doc_id")),
          rankCol = "r")
        val hashed = Skew.globalRank(
          d.withColumn("hk", PortableHash.hexHash(
            concat(lit("pw:"), col("doc_id").cast("string")))),
          Seq(col("hk"), col("doc_id")), rankCol = "r")
        waste(sorted, "sorted").unionAll(waste(hashed, "hashed"))
          .orderBy("strategy", "bsz")
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
            CAST(('0x' || substring(md5('pw:' || CAST(doc_id AS VARCHAR)),
              1, 8)) AS BIGINT) AS hk
          FROM documents),
        rs AS (SELECT len,
            row_number() OVER (ORDER BY len, doc_id) AS r FROM d),
        rh AS (SELECT len,
            row_number() OVER (ORDER BY hk, doc_id) AS r FROM d),
        xs AS (SELECT len, r, unnest([16, 64]) AS bsz FROM rs),
        xh AS (SELECT len, r, unnest([16, 64]) AS bsz FROM rh),
        bs AS (SELECT bsz, (r - 1) // bsz AS batch, count(*) AS n,
            max(len) AS mx, CAST(sum(len) AS BIGINT) AS sl
          FROM xs GROUP BY 1, 2),
        bh AS (SELECT bsz, (r - 1) // bsz AS batch, count(*) AS n,
            max(len) AS mx, CAST(sum(len) AS BIGINT) AS sl
          FROM xh GROUP BY 1, 2),
        ws AS (SELECT 'sorted' AS strategy, CAST(bsz AS INT) AS bsz,
            count(*) AS n_batches,
            round(CAST(sum(mx * n - sl) AS DOUBLE)
              / CAST(sum(sl) AS BIGINT), 4) AS pad_ratio
          FROM bs GROUP BY 1, 2),
        wh AS (SELECT 'hashed', CAST(bsz AS INT), count(*),
            round(CAST(sum(mx * n - sl) AS DOUBLE)
              / CAST(sum(sl) AS BIGINT), 4)
          FROM bh GROUP BY 1, 2)
        SELECT * FROM ws UNION ALL SELECT * FROM wh
        ORDER BY strategy, bsz""")),

    Q(
      "pipeline_interleave",
      "Deterministic source interleaving — documents take global " +
        "training-stream positions source-round-robin (position = " +
        "within-source rank × |sources| + source index), so no " +
        "source ever clumps: any window of |sources| consecutive " +
        "positions sees every source at most once while sources " +
        "last. The anti-clumping guarantee a hash shuffle " +
        "(pipeline_corpus_shuffle) gives only in expectation, made " +
        "exact — the curriculum-mixing primitive. Within-source " +
        "ranks ride [[Skew.groupedRank]] (range-partitioned per-group " +
        "rank + broadcast offsets, not a 20-way source window); the " +
        "source index is a dimension-sized " +
        "broadcast; the audit output is per-source position " +
        "statistics (first slot, mean stride = |sources| exactly).",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        // source index WITHOUT an unpartitioned window: the distinct
        // source set is dimension-sized, so one sorted-array fold +
        // posexplode assigns ordinals (the bucketPrefixOffsets idiom)
        val srcIdx = d.select(col("source")).distinct()
          .agg(sort_array(collect_list("source")).as("arr"))
          .select(posexplode(col("arr")))
          .select(col("pos").cast("long").as("sidx"),
            col("col").as("source"))
        val nSrc = srcIdx.agg(count(lit(1)).as("ns"))
        val pos = Skew.groupedRank(d, Seq("source"), Seq(col("doc_id")),
            rankCol = "__gr")
          .withColumn("rk", col("__gr") - 1).drop("__gr")
          .join(broadcast(srcIdx), "source")
          .crossJoin(broadcast(nSrc))
          .select(col("source"),
            (col("rk") * col("ns") + col("sidx")).as("gpos"))
        pos.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), min("gpos").as("first_slot"),
            max("gpos").as("last_slot"),
            ((max("gpos") - min("gpos"))
              / (count(lit(1)) - 1)).cast("long").as("stride"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source FROM documents),
        si AS (SELECT source,
            row_number() OVER (ORDER BY source) - 1 AS sidx
          FROM (SELECT DISTINCT source FROM d)),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM si),
        pos AS (SELECT d.source,
            (row_number() OVER (PARTITION BY d.source ORDER BY doc_id)
              - 1) * ns + sidx AS gpos
          FROM d JOIN si USING (source) CROSS JOIN ns)
        SELECT source, count(*) AS n_docs,
          CAST(min(gpos) AS BIGINT) AS first_slot,
          CAST(max(gpos) AS BIGINT) AS last_slot,
          CAST((max(gpos) - min(gpos)) / (count(*) - 1) AS BIGINT)
            AS stride
        FROM pos GROUP BY source ORDER BY source""")),

    Q(
      "pipeline_leakage_audit",
      "Train/eval leakage audit — duplicate FAMILIES (first-8-token " +
        "head fingerprint, the dedup_quality_survivor key) that " +
        "straddle pipeline_train_split's hash split: a near-" +
        "duplicate of a training document sitting in val/test " +
        "silently inflates every eval metric, and THIS is the check " +
        "that catches it before training does. One fingerprint " +
        "aggregation with conditional split flags (exact integer " +
        "counts); the verdict row reports multi-doc families, " +
        "leaked families, and each split-pair crossing count.",
      (s, dir) => {
        val h = substring(md5(concat(col("doc_id").cast("string"),
          lit("|split")).cast("binary")), 1, 2)
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))
              .cast("binary")).as("fp"),
            when(h < "cc", "train").when(h < "e6", "val")
              .otherwise("test").as("split"))
        val fam = d.groupBy("fp")
          .agg(count(lit(1)).as("n"),
            max(when(col("split") === "train", 1).otherwise(0)).as("tr"),
            max(when(col("split") === "val", 1).otherwise(0)).as("va"),
            max(when(col("split") === "test", 1).otherwise(0)).as("te"))
          .filter(col("n") > 1)
        fam.agg(count(lit(1)).as("n_families"),
            sum(when(col("tr") + col("va") + col("te") > 1, 1)
              .otherwise(0)).as("n_leaked"),
            sum(col("tr") * col("va")).as("train_val"),
            sum(col("tr") * col("te")).as("train_test"),
            sum(col("va") * col("te")).as("val_test"))
          .orderBy("n_families")
      },
      Some("""WITH d AS (SELECT doc_id,
            md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
            CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|split'),
                1, 2) < 'cc' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|split'),
                1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
          FROM documents),
        fam AS (SELECT fp, count(*) AS n,
            max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
            max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS va,
            max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
          FROM d GROUP BY 1 HAVING count(*) > 1)
        SELECT count(*) AS n_families,
          CAST(sum(CASE WHEN tr + va + te > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leaked,
          CAST(sum(tr * va) AS BIGINT) AS train_val,
          CAST(sum(tr * te) AS BIGINT) AS train_test,
          CAST(sum(va * te) AS BIGINT) AS val_test
        FROM fam ORDER BY n_families""")),

    Q(
      "pipeline_bradley_terry",
      s"Bradley–Terry preference strengths over the corpus sources — " +
        "the pairwise-comparison model reward-model and eval " +
        "pipelines fit to turn noisy A-vs-B preference votes into a " +
        "global ranking. Contests: per language, the source with the " +
        "larger total character volume beats each rival (5 contests " +
        s"per pair, no ties on volume); $BtIterations MM iterations " +
        "(Hunter 2004: s_i ← W_i / Σ_j n_ij/(s_i+s_j), renormalized " +
        "to mean 1) converge on the fixture. The win matrix is " +
        "|sources|²-bounded, every per-player reduction is a sorted " +
        "fold over ≤|sources| terms, the normalizer is a 1-row " +
        "broadcast — each iteration shuffles a 400-row frame, never " +
        "the corpus. Oracle unrolls the identical MM trajectory as " +
        "chained CTEs.",
      (s, dir) => {
        val cnt = Tables.t(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(sum(col("n_chars")).as("vol"))
        val a = cnt.select(col("lang"), col("source").as("i"), col("vol").as("va"))
        val b = cnt.select(col("lang"), col("source").as("j"), col("vol").as("vb"))
        val pairs = a.join(b, Seq("lang"))
          .filter(col("i") =!= col("j"))
          .groupBy("i", "j")
          .agg(sum((col("va") > col("vb")).cast("long")).as("w"))
        val games = pairs.alias("p")
          .join(pairs.alias("q"),
            col("p.i") === col("q.j") && col("p.j") === col("q.i"))
          .select(col("p.i").as("i"), col("p.j").as("j"),
            (col("p.w") + col("q.w")).as("n"))
          .filter(col("n") > 0)
        val wins = pairs.groupBy(col("i").as("src"))
          .agg(sum(col("w")).as("wi"))
        val nPlayers = wins.agg(count(lit(1)).as("np"))
        // The whole MM trajectory runs as ONE packed fold: the win
        // matrix is |sources|²-bounded (a dimension), so it packs into
        // a single row and the 10 iterations are an aggregate() over
        // sequence(1, K) — one job, zero per-iteration exchanges or
        // eager cuts, where the loop form paid 3 joins + 2 aggregates
        // per MM step. Bit-identical to the loop (and the unrolled
        // MATERIALIZED-CTE oracle): the iterate covers exactly the
        // game-participant set P (the loop's wins ⋈ denom inner join
        // restricts to P after step 1, with gameless sources' initial
        // 1.0 never referenced), every denominator and the normalizer
        // array_sort their terms — Stats.sfold's exact summation
        // order — and the normalizer multiplies by the FULL wins count
        // np before dividing, exactly as the loop does.
        val packed = wins.agg(
            sort_array(collect_list(struct(col("src"), col("wi")))).as("ws"))
          .crossJoin(broadcast(games.agg(
            collect_list(struct(col("i"), col("j"), col("n"))).as("gs"))))
          .crossJoin(broadcast(nPlayers))
          .withColumn("ps", expr(
            "array_sort(array_distinct(transform(gs, g -> g.i)))"))
          .withColumn("wv", expr(
            "transform(ps, pl -> filter(ws, w -> w.src = pl)[0].wi)"))
        def den(pl: String, k: String) =
          s"""aggregate(array_sort(transform(filter(gs, g -> g.i = $pl),
                g -> g.n / (element_at(s, $k + 1) +
                  element_at(s, CAST(array_position(ps, g.j) AS INT))))),
              CAST(0.0 AS DOUBLE), (a, x) -> a + x)"""
        val sFinal = packed.withColumn("sf", expr(
          s"""aggregate(sequence(1, $BtIterations),
               transform(ps, pl -> CAST(1.0 AS DOUBLE)),
               (s, it) -> transform(
                 transform(ps, (pl, k) ->
                   IF(${den("pl", "k")} > 0,
                     element_at(wv, k + 1) / ${den("pl", "k")},
                     CAST(0.0 AS DOUBLE))),
                 sr -> sr * np / aggregate(
                   array_sort(transform(ps, (pl, k) ->
                     IF(${den("pl", "k")} > 0,
                       element_at(wv, k + 1) / ${den("pl", "k")},
                       CAST(0.0 AS DOUBLE)))),
                   CAST(0.0 AS DOUBLE), (a, x) -> a + x)))""").as("sf"))
        sFinal.select(explode(expr(
            """transform(ps, (pl, k) -> struct(
                 pl AS source,
                 element_at(wv, k + 1) AS wins,
                 aggregate(filter(gs, g -> g.i = pl), CAST(0 AS BIGINT),
                   (a, g) -> a + g.n) AS games,
                 round(element_at(sf, k + 1), 6) AS strength))""")).as("r"))
          .select(col("r.source"), col("r.wins"), col("r.games"),
            col("r.strength"))
          .orderBy(col("strength").desc, col("source"))
      },
      Some(bradleyTerrySql)),

    Q(
      "pipeline_elo_sources",
      "Sequential Elo ratings over the same per-language source " +
        "contests, replayed in deterministic contest order (lang, " +
        "winner, loser) — the online counterpart to the batch " +
        "Bradley–Terry fit: each contest moves the two players by " +
        "K·(1 − expected), so early results matter less than the " +
        "final MM fit but the ranking converges to the same order " +
        "when one source dominates. The contest list is " +
        "|sources|²·|langs|-bounded; the sequential fold runs inside " +
        "ONE ordered higher-order aggregate over that bounded list " +
        "(never a driver loop), and DuckDB replays the identical " +
        "fold with list_reduce over the same ordering.",
      (s, dir) => {
        val cnt = Tables.t(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(sum(col("n_chars")).as("vol"))
        val a = cnt.select(col("lang"), col("source").as("wi"), col("vol").as("va"))
        val b = cnt.select(col("lang"), col("source").as("lo"), col("vol").as("vb"))
        val contests = a.join(b, Seq("lang"))
          .filter(col("va") > col("vb"))
          .select(col("lang"), col("wi"), col("lo"))
        // one ordered fold over the bounded contest list: state is the
        // rating map, each step an Elo update — expressed as an
        // aggregate() over the sorted contest array so the sequential
        // semantics stay inside the engine (no collect, no driver state).
        // The player list seeds from ALL distinct document sources (a
        // 1-row broadcast), exactly like the oracle's ps CTE — a source
        // whose volume ties every rival plays no contest but still
        // appears at its initial 1000 rating.
        val players = Tables.t(s, dir, "documents").select("source").distinct()
          .agg(sort_array(collect_list(col("source"))).as("ps"))
        val folded = contests
          .agg(sort_array(collect_list(struct(col("lang"), col("wi"), col("lo")))).as("cs"))
          .crossJoin(broadcast(players))
          .select(explode(expr(
            """aggregate(
                 cs,
                 map_from_arrays(ps,
                   transform(ps, x -> CAST(1000.0 AS DOUBLE))),
                 (r, c) -> map_zip_with(r,
                   map_from_arrays(array(c.wi, c.lo), array(
                     32.0 * (1.0 - 1.0 / (1.0 + power(10.0, (element_at(r, c.lo) - element_at(r, c.wi)) / 400.0))),
                     -32.0 * (1.0 - 1.0 / (1.0 + power(10.0, (element_at(r, c.lo) - element_at(r, c.wi)) / 400.0))))),
                   (k, v, d) -> v + coalesce(d, CAST(0.0 AS DOUBLE))),
                 r -> map_entries(r))""")).as("e"))
          .select(col("e.key").as("source"), round(col("e.value"), 4).as("elo"))
        folded.orderBy(col("elo").desc, col("source"))
      },
      Some("""WITH RECURSIVE cnt AS (SELECT lang, source,
            CAST(sum(n_chars) AS BIGINT) AS vol
          FROM documents GROUP BY 1, 2),
        contests AS (SELECT
            row_number() OVER (ORDER BY lang, wi, lo) AS seq, wi, lo
          FROM (SELECT a.lang, a.source AS wi, b.source AS lo
            FROM cnt a JOIN cnt b ON a.lang = b.lang AND a.vol > b.vol)),
        m AS (SELECT count(*) AS mx FROM contests),
        ps AS (SELECT list(source ORDER BY source) AS players
          FROM (SELECT DISTINCT source FROM documents)),
        st AS (
          SELECT 0 AS it, players,
            list_transform(players, x -> CAST(1000.0 AS DOUBLE)) AS ratings
          FROM ps
          UNION ALL
          SELECT s.it + 1, s.players,
            list_transform(list_zip(s.players, s.ratings),
              x -> CASE WHEN x[1] = c.wi
                  THEN x[2] + 32.0 * (1.0 - 1.0 / (1.0 + pow(10.0,
                    (s.ratings[list_position(s.players, c.lo)]
                     - s.ratings[list_position(s.players, c.wi)]) / 400.0)))
                WHEN x[1] = c.lo
                  THEN x[2] - 32.0 * (1.0 - 1.0 / (1.0 + pow(10.0,
                    (s.ratings[list_position(s.players, c.lo)]
                     - s.ratings[list_position(s.players, c.wi)]) / 400.0)))
                ELSE x[2] END)
          FROM st s JOIN contests c ON c.seq = s.it + 1)
        SELECT t.u[1] AS source, round(t.u[2], 4) AS elo
        FROM (SELECT * FROM st, m WHERE it = mx) f,
          unnest(list_zip(f.players, f.ratings)) t(u)
        ORDER BY elo DESC, source"""))
  )

  private val BtIterations = 10

  /** Unrolled MM-iteration oracle for [[pipeline_bradley_terry]]:
    * the same win matrix, the same sorted-fold denominators, the same
    * mean-1 renormalization, one CTE pair per iteration. */
  private def bradleyTerrySql: String = {
    val steps = (1 to BtIterations).map { k =>
      val prev = s"s${k - 1}"
      s"""d$k AS MATERIALIZED (SELECT g.i AS src,
          list_reduce(list_sort(list(g.n / (a.s + b.s))), (x, y) -> x + y)
            AS den
        FROM games g JOIN $prev a ON a.src = g.i
        JOIN $prev b ON b.src = g.j GROUP BY 1),
      r$k AS MATERIALIZED (SELECT w.src,
          CASE WHEN den > 0 THEN wi / den ELSE 0.0 END AS sr
        FROM wins w JOIN d$k USING (src)),
      t$k AS MATERIALIZED (SELECT
          list_reduce(list_sort(list(sr)), (x, y) -> x + y) AS tot
        FROM r$k),
      s$k AS MATERIALIZED (SELECT src, sr * np / tot AS s
        FROM r$k CROSS JOIN t$k CROSS JOIN nplayers)"""
    }.mkString(",\n")
    s"""WITH cnt AS MATERIALIZED (SELECT lang, source,
          CAST(sum(n_chars) AS BIGINT) AS vol
        FROM documents GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT a.source AS i, b.source AS j,
          CAST(sum(CASE WHEN a.vol > b.vol THEN 1 ELSE 0 END) AS BIGINT)
            AS w
        FROM cnt a JOIN cnt b
          ON a.lang = b.lang AND a.source <> b.source
        GROUP BY 1, 2),
      games AS MATERIALIZED (SELECT p.i, p.j, p.w + q.w AS n
        FROM pairs p JOIN pairs q ON q.i = p.j AND q.j = p.i
        WHERE p.w + q.w > 0),
      wins AS MATERIALIZED (SELECT i AS src, CAST(sum(w) AS BIGINT) AS wi
        FROM pairs GROUP BY 1),
      nplayers AS (SELECT CAST(count(*) AS BIGINT) AS np FROM wins),
      s0 AS MATERIALIZED (SELECT src, 1.0 AS s FROM wins),
      $steps
      SELECT w.src AS source, w.wi AS wins,
        (SELECT CAST(sum(g.n) AS BIGINT) FROM games g WHERE g.i = w.src)
          AS games,
        round(f.s, 6) AS strength
      FROM wins w JOIN s$BtIterations f ON f.src = w.src
      ORDER BY strength DESC, source"""
  }
}
