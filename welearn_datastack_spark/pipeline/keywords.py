"""Keywords stage — reference KeywordsExtractor
(nodes_workflow/KeywordsExtractor/keywords_extractor.py:38–122):
delete old document↔keyword links, extract keywords per document
(M5), get-or-create in the unique-text dictionary (J8), relink,
append ``document_with_keywords`` states.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import extract_keywords
from ..operators.relational import created_id, get_or_create, overwrite_by_key


def link_keywords(
    kws: DataFrame,
    keyword_dim: DataFrame | None = None,
    existing_links: DataFrame | None = None,
    id_col: str = "document_id",
) -> tuple[DataFrame, DataFrame]:
    """Returns (updated keyword dimension, updated link table) from the
    extracted ``(id_col, keyword)`` rows.

    With existing stores, the dictionary update is MERGE-style and
    idempotent (J8) and the link replacement is overwrite-by-key on the
    document id — exactly the reference's delete-then-insert
    (keywords_extractor.py:44–60) without the transaction.

    Without stores (both ``None``), the tables are built fresh: the
    dictionary is the distinct keywords with their created ids, the
    links are ``(id_col, keyword_id)`` projected from ``kws`` — no join,
    no anti-join. The rows are those of the MERGE against empty
    stores: a repeated keyword has one dictionary row, and a null
    keyword gets a ``(null, null)`` dictionary row but no link (the
    MERGE's inner join drops it).

    Both outputs read ``kws``; a caller that forces both persists
    ``kws`` first, or the extraction behind it reruns for every read."""
    if keyword_dim is None and existing_links is None:
        keyword = F.col("keyword")
        dim = kws.select(keyword).dropDuplicates(["keyword"]).select(
            keyword, created_id(keyword).alias("id")
        )
        links = kws.where(keyword.isNotNull()).select(
            F.col(id_col), created_id(keyword).alias("keyword_id")
        )
        return dim, links
    if keyword_dim is None or existing_links is None:
        raise ValueError("pass both keyword_dim and existing_links, or neither")
    dim = get_or_create(keyword_dim, kws, key="keyword", id_col="id")
    links = kws.join(F.broadcast(dim), on="keyword").select(
        F.col(id_col), F.col("id").alias("keyword_id")
    )
    return dim, overwrite_by_key(existing_links, links, key=id_col)


def extract_and_link(
    docs: DataFrame,
    keyword_dim: DataFrame | None,
    existing_links: DataFrame | None,
    id_col: str = "document_id",
    text_col: str = "description",
    model_loader: Callable | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (updated keyword dimension, updated link table):
    ``extract_keywords`` composed with ``link_keywords`` (``None``
    stores build fresh tables). Lazy — each output re-runs the extraction
    when forced; ``jobs enrich`` calls the two halves itself, on a
    persisted extraction, so the extraction runs once per job."""
    kws = extract_keywords(docs, id_col=id_col, text_col=text_col, model_loader=model_loader)
    return link_keywords(kws, keyword_dim, existing_links, id_col=id_col)
