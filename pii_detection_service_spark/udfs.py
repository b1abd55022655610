"""Arrow-batched UDFs — the ONLY place Python touches row data.

The reference processes one document per HTTP request and reloads its model
per request (ml_service_app.py:59-60, predictor.py:70). Here everything is
batch-vectorized. The flagship stage (plans/stage.py) scores through the
scalar struct ``pandas_udf`` from ``make_score_struct_udf``: Spark hands it
the caption column of each Arrow record batch as a pandas Series and zips
the returned struct back onto the row, so image bytes never cross into
Python. ``make_score_iter`` is the ``mapInPandas`` form of the same kernel,
for plans that need whole rows in Python. The kernels in ``functions/`` run
per batch; regexes and builtin tables are module-level (loaded once per
executor process at import), and swapped-in models (LM table, gazetteer,
langid profiles) arrive as broadcast values passed down as arguments — the
Spark-idiomatic replacement for the reference's model-cache-on-disk
(predictor.py:30-35).

Zero per-row Python at the Spark level; per-element work inside a batch is
intrinsic to regex tagging (as it would be for fastText/KenLM C calls).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from .functions import quality, tagger, textref

# Scored columns appended by score_batch, in output order.
SCORE_COLUMNS = [
    "lang", "ppl", "keep", "drop_reason",
    "tokens", "labels", "n_pii", "n_toxic", "scrubbed_caption",
]
SCORE_DDL = (
    "lang string, ppl double, keep boolean, drop_reason string, "
    "tokens array<string>, labels array<string>, n_pii int, n_toxic int, "
    "scrubbed_caption string"
)


def score_batch(
    captions: pd.Series, lm_tbl=None, gazetteer=None, langid_model=None
) -> pd.DataFrame:
    """One fused scoring pass over a caption batch: langid + perplexity +
    keep/drop heuristics + BIO PII tagging + scrub (SURVEY.md §2.9 UDF
    batch 1+2 fused — one Arrow hop instead of two). ``lm_tbl`` swaps the
    perplexity model for a loaded ARPA table (artifacts.broadcast_arpa_lm
    seam); ``gazetteer`` swaps the given-name set for a large broadcast
    artifact (artifacts.broadcast_gazetteer); ``langid_model`` swaps the
    langid profiles for corpus-trained per-language tables
    (lmtrain.broadcast_trained_langid seam); None keeps the builtins."""
    caps = captions.fillna("")
    lp = caps.map(  # fused: one lower + one bigram encode
        lambda t: quality.lang_and_ppl(t, lm_tbl, langid_model)
    )
    langs = pd.Series([x[0] for x in lp], index=caps.index)
    ppls = pd.Series([x[1] for x in lp], index=caps.index)
    kd = [
        quality.keep_decision(c, l, p)
        for c, l, p in zip(caps, langs, ppls)
    ]
    # one tokenize+span pass per row
    tagged = [tagger.tag_and_scrub(c, gazetteer) for c in caps]
    return pd.DataFrame(
        {
            "lang": langs,
            "ppl": ppls,
            "keep": [k for k, _ in kd],
            "drop_reason": [r for _, r in kd],
            "tokens": [t[0] for t in tagged],
            "labels": [t[1] for t in tagged],
            "n_pii": pd.Series([t[3] for t in tagged], dtype="int32"),
            "n_toxic": pd.Series([t[4] for t in tagged], dtype="int32"),
            "scrubbed_caption": [t[2] for t in tagged],
        },
        index=caps.index,
    )


def make_score_iter(
    passthrough_cols: list[str],
    caption_col: str = "caption",
    lm_bc=None,
    gaz_bc=None,
    langid_bc=None,
):
    """mapInPandas function: passthrough + scored columns. ``lm_bc`` /
    ``gaz_bc`` / ``langid_bc`` are optional Broadcasts of a loaded ARPA LM
    table, a large gazetteer, and a trained (langs, table) langid model
    (resolved to their values once per batch iterator,
    i.e. once per task, not per row).

    NOTE: this ships EVERY column (including image bytes) through Arrow to
    Python. Prefer ``score_struct_udf`` (plans/stage.py uses it): a scalar
    pandas_udf serializes only the caption column and Spark zips the struct
    result back positionally — at 100 TB that is ~10-20x less Arrow traffic.
    Kept for surfaces where the full batch genuinely must reach Python
    (e.g. fused image+caption kernels).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl = lm_bc.value if lm_bc is not None else None
        gaz = gaz_bc.value if gaz_bc is not None else None
        lid = langid_bc.value if langid_bc is not None else None
        for pdf in batches:
            scored = score_batch(pdf[caption_col], tbl, gaz, lid)
            yield pd.concat([pdf[passthrough_cols], scored], axis=1)

    return fn


def make_score_struct_udf(lm_bc=None, gaz_bc=None, langid_bc=None):
    """Scalar pandas_udf: caption in → struct of scored columns out. Only
    the caption column crosses the Arrow boundary; bytes/phash/etc. stay
    JVM-side. Same kernel (score_batch), bit-identical outputs; ``lm_bc``
    / ``gaz_bc`` / ``langid_bc`` optionally swap the perplexity model /
    gazetteer / langid profiles for broadcast artifacts."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(f"struct<{SCORE_DDL}>")
    def score_struct(captions: pd.Series) -> pd.DataFrame:
        tbl = lm_bc.value if lm_bc is not None else None
        gaz = gaz_bc.value if gaz_bc is not None else None
        lid = langid_bc.value if langid_bc is not None else None
        return score_batch(captions, tbl, gaz, lid)

    return score_struct


def predict_pipeline_batch(texts: pd.Series) -> pd.DataFrame:
    """The reference's /save-essay ML path (SURVEY.md §3.1), batched:
    A1 decode → A2 tokenize → A12 tag → scrub. Emits the document-table
    shape columns (tokens, labels) plus scrubbed text."""
    decoded = texts.fillna("").map(textref.decode_escapes)
    tagged = [tagger.tag_and_scrub_pii(t) for t in decoded]  # one span pass per row
    return pd.DataFrame(
        {
            "full_text": decoded,
            "tokens": [t[0] for t in tagged],
            "labels": [t[1] for t in tagged],
            "scrubbed_text": [t[2] for t in tagged],
            "n_pii": pd.Series([t[3] for t in tagged], dtype="int32"),
        },
        index=texts.index,
    )

