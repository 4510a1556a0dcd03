"""End-to-end KG construction plan (SURVEY.md §7.2 minimum slice, grown up).

web_pages → text kernel → mention detection (broadcast gazetteer, Arrow UDF)
→ triple extraction (mentions + co-occurrence edges) → node/edge frames.

Shuffle budget at 100 TB (the thing that decides whether this survives a
1000-executor cluster):

* mention detection, mention edges, pair generation: **zero shuffles** —
  narrow map chain; per-doc dedup happens inside the kernel (row-local
  state) and co-occurrence pairs are expanded from the per-row mention
  array, never via a groupBy/self-join on doc_id.
* term nodes: groupBy over ≤|dictionary| distinct keys — partial
  aggregation collapses each task's output to ≤|dictionary| rows before
  the exchange, so the shuffle is KB-sized regardless of corpus size.
* co-occurrence dedup: `dropDuplicates` over the pair key — the distinct
  universe is |dictionary|², not corpus-sized, so map-side partial
  aggregation absorbs the hot keys (every doc mentions NCBITaxon:9606-style
  terms) before any network transfer. AQE skew handling covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dictionaries import (
    COOC_PREDICATE,
    COOC_RELATION,
    DOC_PREFIX,
    MENTION_PREDICATE,
    MENTION_RELATION,
    PROVIDED_BY,
    PUB_CATEGORY,
    normalized_gazetteer,
)
from ..functions.text import extracted_text
from ..operators.mentions import make_curie_udf
from ..sources.corpus import (
    _scan_layout,
    read_table,
    session_artifact,
    web_pages,
)


def pages_with_mentions(spark: SparkSession, sf_dir: str,
                        langs: tuple[str, ...] | None = None,
                        has_html: bool = False) -> DataFrame:
    """web_pages + ``curies: array<string>`` — the sorted, per-document-
    deduped canonical mention set. One narrow pass: text kernel + broadcast-
    dictionary automaton, no shuffle.

    ``has_html``: the driver corpus declares html as a null literal, so by
    default the text kernel is the (JVM-side) identity and the html→text
    Arrow stage is elided from the plan entirely; pass True for corpora
    with raw bytes and the full extraction kernel (functions/text.py) runs.
    """
    pages = web_pages(spark, sf_dir, langs)
    udf = make_curie_udf()
    text = (
        extracted_text(F.col("text"), F.col("html")) if has_html else F.col("text")
    )
    return pages.withColumn("text", text).withColumn(
        "curies", F.sort_array(udf(F.col("text")))
    )


def doc_mentions(spark: SparkSession, sf_dir: str,
                 langs: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, curie) distinct mention pairs — the engine's E4 analog.

    Distinct by construction (the kernel dedups per document against the
    pre-normalized gazetteer, dictionaries.normalized_gazetteer) — the
    reference's ``seen`` set (scibite_cord.py:187-188) without any shuffle.
    """
    # explode_outer + post-filter rather than inner explode: an inner
    # explode makes Catalyst infer a `size(curies) > 0` pre-filter that
    # re-evaluates the mention UDF a second time (and below the ingest
    # repartition, i.e. at scan parallelism). explode_outer generates no
    # such filter → the UDF runs exactly once, after the exchange.
    return (
        pages_with_mentions(spark, sf_dir, langs)
        .select("doc_id", F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
    )


def web_extract_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The html→text kernel exercised END-TO-END against the oracle
    (north rule: "byte-identical text extraction per url"): wrap each
    document's text in deterministic html bytes (head + script noise +
    body tags), NULL the text column, run the full Arrow extraction
    kernel (functions/text.py: script/style strip → tag strip → ws
    collapse → NFC), and emit the recovered text. For the driver corpus
    (printable ASCII, no angle brackets) extraction inverts the
    wrapping exactly, so the DuckDB oracle is the raw text itself —
    any kernel drift (regex change, normalization change, encoding
    slip) breaks the value hash. The hash-equality determinism test
    (test local[8] vs local[32]) pins cross-parallelism byte identity;
    this pins cross-ENGINE byte identity."""
    from ..functions.text import extract_html_text

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.encode(
        F.concat(
            F.lit("<html><head><script>var x = 1 < 2;</script>"
                  "<style>p{color:red}</style></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "utf-8",
    )
    return docs.select(
        "doc_id",
        F.trim(extract_html_text(html)).alias("text"),
    )


def gazetteer_nodes(spark: SparkSession) -> DataFrame:
    """Canonical (curie, name, category) — one row per canonical CURIE,
    min-resolved over gazetteer entries that collapse onto it (the
    connected-component-free prefix/lexicographic dedup of the north rule)."""
    gaz = spark.createDataFrame(
        normalized_gazetteer(),
        "term string, curie string, name string, category string",
    )
    return gaz.groupBy("curie").agg(
        F.min("name").alias("name"), F.min("category").alias("category")
    )


def build_kg(spark: SparkSession, sf_dir: str,
             langs: tuple[str, ...] | None = None) -> tuple[DataFrame, DataFrame]:
    """Full pipeline → (nodes, edges) KGX frames.

    Mirrors the reference transform+merge contract: publication node per
    document (scibite_cord.py:141-188), term node per mentioned entity,
    biolink:mentions doc→term edges (scibite_cord.py:220-232), pair-deduped
    biolink:correlated_with term-term edges (scibite_cord.py:290-340), all
    deduped on the KGX keys (id) / (subject,predicate,object,relation).
    """
    doc_curie = F.concat(F.lit(DOC_PREFIX), F.col("doc_id").cast("string"))

    # The mention kernel feeds THREE branches (term nodes, mention edges,
    # co-occurrence pairs); without a shared materialization each branch
    # re-evaluates the UDF over the whole corpus. The compact (doc_id,
    # curies) projection — ids + a few CURIEs per doc, orders of
    # magnitude smaller than the text — is the SHARED session artifact
    # get_mention_arrays owns (r7: build_kg, get_mentions and the pair
    # queries each used to materialize their own copy, i.e. THREE full
    # corpus passes through the mention kernel per session; now the
    # kernel runs exactly once). MEMORY_AND_DISK inside
    # get_mention_arrays: at 100 TB the projection spills rather than
    # recomputes. (On a cluster this is the natural intermediate
    # Iceberg table between extraction and graph materialization.)
    mid = get_mention_arrays(spark, sf_dir, langs)

    # publication nodes need only doc_id — read it off the persisted
    # projection (column-pruned, no UDF, no second corpus scan).
    pub_nodes = mid.select(
        doc_curie.alias("id"),
        F.concat(F.lit("Document "), F.col("doc_id").cast("string")).alias("name"),
        F.lit(PUB_CATEGORY).alias("category"),
        F.lit(PROVIDED_BY).alias("provided_by"),
    )

    # explode_outer + filter: see doc_mentions — avoids UDF re-evaluation
    # via the explode-inferred size() pre-filter.
    mentions = (
        mid.select("doc_id", F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
    )

    # term nodes: distinct mentioned curies (KB-sized groupBy) ⋈ broadcast
    # canonical dictionary.
    term_nodes = (
        mentions.select("curie").distinct()
        .join(F.broadcast(gazetteer_nodes(spark)), "curie")
        .select(
            F.col("curie").alias("id"), "name", "category",
            F.lit(PROVIDED_BY).alias("provided_by"),
        )
    )
    nodes = term_nodes.unionByName(pub_nodes)

    mention_edges = mentions.select(
        doc_curie.alias("subject"),
        F.lit(MENTION_PREDICATE).alias("predicate"),
        F.col("curie").alias("object"),
        F.lit(MENTION_RELATION).alias("relation"),
        F.lit(PROVIDED_BY).alias("provided_by"),
    )

    # co-occurrence pairs expanded row-locally from the sorted mention array
    # (i < j ⇒ s < o), then deduped on the edge key.
    pairs = (
        mid.select(F.explode_outer(pair_expand(F.col("curies"))).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.s").alias("subject"), F.col("p.o").alias("object"))
    )

    cooc_edges = (
        pairs.dropDuplicates(["subject", "object"])
        .select(
            "subject",
            F.lit(COOC_PREDICATE).alias("predicate"),
            "object",
            F.lit(COOC_RELATION).alias("relation"),
            F.lit(PROVIDED_BY).alias("provided_by"),
        )
    )

    edges = mention_edges.unionByName(cooc_edges)
    return nodes, edges


# ---------------------------------------------------------------------------
# Materialized-graph cache. The reference never queries raw sources — it
# queries the *merged artifact* (a Blazegraph journal loaded from merged-kg,
# Jenkinsfile:126, query.py:8-15). Our equivalent: build the KG once per
# (session, input), persist node/edge/mention frames, and let every query
# plan start from the materialized graph. On a cluster this is the Iceberg
# output table of the merge stage; locally it is a persisted DataFrame.
# ---------------------------------------------------------------------------


def pair_expand(curies) -> "F.Column":  # type: ignore[name-defined]
    """Row-local ordered-pair expansion of a sorted mention array:
    array<string> → array<struct<s,o>> with s < o. Zero shuffle — the
    scale-safe alternative to a mentions self-join on doc_id (which at
    100 TB shuffles the whole corpus on a corpus-sized key)."""
    return F.filter(
        F.flatten(
            F.transform(
                curies,
                lambda a: F.transform(
                    curies, lambda b: F.struct(a.alias("s"), b.alias("o"))
                ),
            )
        ),
        lambda p: p["s"] < p["o"],
    )


def _artifact_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Partition count for the persisted graph artifacts, derived from
    input size (guide §2: scale-adaptive, never a local constant): one
    partition per ~8 MB of corpus, floored at 2. The KGX frames are
    narrow projections off the cached mention arrays, so their union
    branches inherited the ingest's 32 partitions each — ~65 near-empty
    partitions at bench scale, and every one of the ~30 downstream graph
    queries paid a task per partition per scan (measured: the merge
    stage alone re-scanned them 4×). coalesce() to this count is a
    no-op at 100 TB (count ≥ existing partitions) and collapses only
    cache-read + projection work locally — the mention kernel's own
    parallelism is untouched (its artifact stays at ingest width)."""
    _, nbytes = _scan_layout(spark, sf_dir, "documents")
    return max(2, (nbytes or 0) // (8 << 20))


@session_artifact
def get_kg(spark: SparkSession, sf_dir: str,
           langs: tuple[str, ...] | None = None) -> tuple[DataFrame, DataFrame]:
    n_parts = _artifact_partitions(spark, sf_dir)
    nodes, edges = build_kg(spark, sf_dir, langs)
    nodes = nodes.coalesce(n_parts).persist()
    edges = edges.coalesce(n_parts).persist()
    # eager materialization: queries must read the graph, not re-run
    # the transform per union branch.
    nodes.count()
    edges.count()
    return nodes, edges


@session_artifact
def get_mentions(spark: SparkSession, sf_dir: str,
                 langs: tuple[str, ...] | None = None) -> DataFrame:
    # derived from the shared mention-array artifact (r7) — a
    # row-local explode of the cached projection, NOT a second
    # corpus pass through the mention kernel
    m = (
        get_mention_arrays(spark, sf_dir, langs)
        .select("doc_id", F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
        .coalesce(_artifact_partitions(spark, sf_dir))
        .persist()
    )
    m.count()
    return m


@session_artifact
def get_mention_arrays(spark: SparkSession, sf_dir: str,
                       langs: tuple[str, ...] | None = None) -> DataFrame:
    """Materialized (doc_id, curies:array<string>) projection — the compact
    per-document mention set that row-local pair expansion reads from."""
    pm = (
        pages_with_mentions(spark, sf_dir, langs)
        .select("doc_id", "curies")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pm.count()  # mention kernel runs at full ingest width
    # compact the artifact AFTER materialization (r7): the cached
    # frame kept the 32-partition ingest width and every consumer
    # scan paid a task per near-empty partition (the incremental
    # family alone scans it 4×/query). The coalesce target derives
    # from input size (no-op at scale); eager localCheckpoint makes
    # the compact copy a leaf so dropping the wide original can
    # never re-trigger the kernel at the narrow width. The divisor
    # is 16× finer than the node/edge artifacts' because consumers
    # run the interpreted pair-expansion HOF over each row (~100
    # steps/doc) — at 8 MB/partition the sf1 expansion serialized
    # onto 2 tasks and the incremental family tripled (measured).
    _, nbytes = _scan_layout(spark, sf_dir, "documents")
    compact = (
        pm.coalesce(max(2, (nbytes or 0) // (512 << 10)))
        .localCheckpoint(eager=True)
    )
    pm.unpersist()
    return compact
