"""Article chunking + nested↔flat conversion (SURVEY §2.3 F1, §2.4 N1-N6).

Reference semantics:

- ``ArticleChunker`` splits text at a literal separator per chunk level
  (sentence ``'. '`` / paragraph ``'\\n'`` / section sentinel;
  ``/root/reference/src/backend/data_fetching/data_fetcher.py:7-30``).
- The upload path double-explodes the nested article — ``for section_name,
  section in zip(section_names, sections): for paragraph_ind, paragraph in
  enumerate(section)`` — into one row per chunk carrying
  ``(article_id, section_name, paragraph_id, paragraph)``
  (``qdrant.py:124-131``).
- The render path regroups chunks by section (``responses.py:33-43``).

Spark design: ``posexplode(arrays_zip(...))`` then ``posexplode(section)``
— both narrow ops (no shuffle); order/position carried as data, so the
pipeline is embarrassingly parallel regardless of scale. The inverse
(``assemble_articles``) is a groupBy + sort_array — used for round-trip
property tests (SURVEY §5.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import regex_escape_literal, CHUNK_SEPARATORS, chunk_split
from ..schemas import ARTICLE_ID, SECTION_NAMES, SECTIONS


def rechunk_sections(
    articles: DataFrame, level: str = "sentence", used_separator: str = "\n"
) -> DataFrame:
    """The reference's ``from_dataset`` path (data_fetcher.py:39,45):
    re-flatten an article's chunk lists with ``used_separator`` then
    re-split at the chunker's level — per section, preserving nesting."""
    escaped = regex_escape_literal(CHUNK_SEPARATORS[level])
    return articles.withColumn(
        SECTIONS,
        F.transform(
            F.col(SECTIONS),
            lambda sec: F.split(F.array_join(sec, used_separator), escaped),
        ),
    )


def explode_chunks(articles: DataFrame, drop_empty: bool = True) -> DataFrame:
    """N2 — nested article → one row per chunk with positions.

    Output: (chunk_id, article_id, section_id, section_name, paragraph_id,
    paragraph). ``paragraph_id`` is the position within the section
    (enumerate semantics, qdrant.py:128); ``section_id`` preserves section
    order (the zip index). ``chunk_id`` is the deterministic H2 key
    (``functions/text.chunk_key`` — THE one key formula; replaces the
    reference's uuid4, qdrant.py:140-141, for reproducibility).

    Empty chunks are dropped BEFORE position assignment (review find):
    the reference cleans empties and THEN enumerates
    (armac_scientific_papers.py:52 builds the stored section with "if j";
    qdrant.py:128 enumerates the already-clean list), so in a section
    ['Alpha.', '', 'Beta.'] the reference gives Beta paragraph_id 1 — a
    filter AFTER posexplode left a gap (id 2) and the ±window context
    join then missed real neighbors the reference includes."""
    from ..functions.text import chunk_key

    zipped = articles.select(
        ARTICLE_ID,
        F.posexplode(F.arrays_zip(SECTION_NAMES, SECTIONS)).alias("section_id", "z"),
    )
    section = F.col("z")[SECTIONS]
    if drop_empty:
        # armac_scientific_papers.py:52 drops empty chunks ("if j") —
        # null elements are equally falsy there, so they drop too
        section = F.filter(section, lambda p: p.isNotNull() & (p != ""))
    exploded = zipped.select(
        ARTICLE_ID,
        "section_id",
        F.col("z")[SECTION_NAMES].alias("section_name"),
        F.posexplode(section).alias("paragraph_id", "paragraph"),
    )
    # chunk_key hashes section_id (the zip POSITION), not just the name:
    # two sections with the same name (real JATS articles repeat 'Methods'
    # etc.) restart paragraph_id, and a name-based key would collide —
    # the keyed upsert in api.py would then silently drop the second
    # section's paragraphs.
    return exploded.select(
        chunk_key(ARTICLE_ID, "section_id", "section_name", "paragraph_id").alias(
            "chunk_id"
        ),
        ARTICLE_ID,
        "section_id",
        "section_name",
        "paragraph_id",
        "paragraph",
    )


def assemble_articles(chunks: DataFrame) -> DataFrame:
    """N6 inverse of explode_chunks — regroup chunk rows into the nested
    article shape. sort_array on (section_id|paragraph_id) structs restores
    order deterministically regardless of shuffle order."""
    sections = (
        chunks.groupBy(ARTICLE_ID, "section_id", "section_name")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("paragraph_id", "paragraph"))),
                lambda s: s["paragraph"],
            ).alias("section")
        )
    )
    return (
        sections.groupBy(ARTICLE_ID)
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("section_id", "section_name", "section"))
                ),
                lambda s: s["section_name"],
            ).alias(SECTION_NAMES),
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("section_id", "section_name", "section"))
                ),
                lambda s: s["section"],
            ).alias(SECTIONS),
        )
    )


def prepend_abstract(
    articles: DataFrame, abstract_col: str = "abstract_text", level: str = "sentence"
) -> DataFrame:
    """P6 — prepend "Abstract" to section_names and the chunked abstract to
    sections (data_fetcher.py:40, fetch_pmcid.py:20,
    armac_scientific_papers.py:53). A NULL abstract (common on real PMC
    records) prepends an EMPTY section, not a null element (review find:
    ``F.array(null)`` put ``[null]`` at sections[0] under the prepended
    'Abstract' name — explode emitted nothing for section 0 and the
    round-trip desynced from the stored nested form)."""
    empty = F.array().cast("array<string>")
    return articles.withColumn(
        SECTION_NAMES, F.concat(F.array(F.lit("Abstract")), F.col(SECTION_NAMES))
    ).withColumn(
        SECTIONS,
        F.concat(
            F.array(F.coalesce(chunk_split(abstract_col, level), empty)),
            F.col(SECTIONS),
        ),
    )


def semantic_chunk_ids(
    df: DataFrame,
    doc_col: str = "article_id",
    pos_col: str = "paragraph_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """F1 generalization — SEMANTIC chunking: merge consecutive
    paragraphs into segments, cutting wherever the embedding drifts
    (``cos(prev, cur) < threshold``) — the standard RAG upgrade of the
    reference's fixed paragraph chunker (``armac_scientific_papers.py``
    splits on markup only; topically-continuous neighbors stay separate
    and single paragraphs spanning two topics stay glued).

    Appends ``cos_prev`` (cosine to the previous paragraph, rounded to 6
    — the threshold compares the ROUNDED value so the cut can never flip
    on cross-engine float noise; NULL for each document's first
    paragraph) and ``segment_id`` (0-based running count of cuts). ONE
    shuffle on the document key: lag-window for the neighbor cosine, then
    a running-sum window over the same partitioning (the second window
    reuses the first's exchange — subset-satisfies-clustering, the
    q17/q20 pattern)."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    w = Window.partitionBy(doc_col).orderBy(pos_col)
    prev = F.lag(F.col(vec_col)).over(w)
    out = df.withColumn(
        "cos_prev",
        F.when(
            prev.isNotNull(),
            F.round(cosine_similarity(F.col(vec_col), prev), 6),
        ),
    )
    boundary = (
        F.col("cos_prev").isNull() | (F.col("cos_prev") < F.lit(threshold))
    ).cast("bigint")
    # the framed window DERIVES from w (one spec definition — a second
    # hand-built partitionBy/orderBy could drift and break the documented
    # exchange reuse)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return out.withColumn("segment_id", F.sum(boundary).over(run) - 1)
