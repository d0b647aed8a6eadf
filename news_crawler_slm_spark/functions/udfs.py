"""Arrow-vectorized UDF surface (the engine's ONLY Python execution path).

Per BASELINE.json ``input_hint``: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout". Every function here is a ``pandas_udf`` operating on
whole Arrow batches; the row-level semantics live in pure functions in
``html_clean.py`` / ``text.py`` so the sequential oracle and the distributed
path share one implementation (that is what makes byte-identity provable).

Reference analogs: dataset.map row-wise (step_03_clean_html.py:92-94),
dataset.map batched (evaluate_model.py:325-336).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .html_clean import clean_html
from .text import detect_language


def _as_str(v: object) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    return str(v)


@F.pandas_udf(T.StringType())
def clean_html_udf(html: pd.Series) -> pd.Series:
    """F1 — reference clean_html over an Arrow batch (accepts binary or str)."""
    return html.map(lambda v: clean_html(_as_str(v)))


@F.pandas_udf(T.StringType())
def detect_language_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda v: detect_language(_as_str(v)))


@F.pandas_udf(T.StringType())
def strip_accents_nfc_udf(text: pd.Series) -> pd.Series:
    """Unicode canonicalization (NFC + accent strip) — DuckDB twin is
    strip_accents(nfc_normalize(x)); see functions/normalize.py."""
    from .normalize import strip_accents_nfc

    return text.map(lambda v: strip_accents_nfc(_as_str(v)))


@F.pandas_udf(T.StringType())
def repair_mojibake_udf(text: pd.Series) -> pd.Series:
    """ftfy-style cp1252/latin-1 mojibake repair; see functions/normalize.py."""
    from .normalize import repair_mojibake

    return text.map(lambda v: repair_mojibake(_as_str(v)))


# ------------------------------------------------------------ metric UDFs
# (F7-F9, F11, F15 — functions/metrics.py holds the row semantics)

@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    from .metrics import jaro_winkler

    return pd.Series(
        [jaro_winkler(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)],
        dtype="float64",
    )


@F.pandas_udf(T.LongType())
def damerau_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    """UNRESTRICTED DL — DuckDB's damerau_levenshtein definition (oracle
    twin); the reference-fidelity path is damerau_osa_udf."""
    from .metrics import damerau_levenshtein

    return pd.Series(
        [damerau_levenshtein(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)],
        dtype="int64",
    )


@F.pandas_udf(T.LongType())
def damerau_osa_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    """RESTRICTED (OSA) DL — matches pyxdameraulevenshtein, the library the
    reference imports (evaluate_model.py:12)."""
    from .metrics import damerau_levenshtein_osa

    return pd.Series(
        [damerau_levenshtein_osa(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)],
        dtype="int64",
    )


@F.pandas_udf(T.DoubleType())
def rouge_l_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    from .metrics import rouge_l_f1

    return pd.Series(
        [rouge_l_f1(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)],
        dtype="float64",
    )


@F.pandas_udf(T.DoubleType())
def bleu_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    from .metrics import bleu

    return pd.Series(
        [bleu(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)], dtype="float64"
    )


@F.pandas_udf(T.DoubleType())
def meteor_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    """F9 — METEOR (exact + Porter-stem + mini-table synonym stages;
    see metrics.meteor_score for the offline divergences)."""
    from .metrics import meteor_score

    return pd.Series(
        [meteor_score(_as_str(p), _as_str(g)) for p, g in zip(pred, gold)],
        dtype="float64",
    )


JSON_EVAL_SCHEMA = T.StructType(
    [
        T.StructField("valid_json", T.IntegerType()),
        T.StructField("tp", T.IntegerType()),
        T.StructField("fp", T.IntegerType()),
        T.StructField("fn", T.IntegerType()),
        # body text-similarity metrics (evaluate_model.py:158-205) — null
        # when the parsed pred has no common 'body' key with gold.
        T.StructField("body_rouge_l", T.DoubleType()),
        T.StructField("body_bleu", T.DoubleType()),
        T.StructField("body_meteor", T.DoubleType()),
        T.StructField("body_lev", T.DoubleType()),
        T.StructField("body_damerau", T.DoubleType()),
        T.StructField("body_jw", T.DoubleType()),
    ]
)


@F.pandas_udf(JSON_EVAL_SCHEMA)
def json_eval_udf(pred: pd.Series, gold_json: pd.Series) -> pd.DataFrame:
    """F15 — evaluate_json (evaluate_model.py:125-225) over an Arrow batch;
    gold arrives as a strict-JSON string (null fields preserved). Surfaces
    the body_* similarity scores (the reference's most complex scoring
    branch, evaluate_model.py:158-205) as nullable doubles."""
    import json

    from .metrics import evaluate_json

    rows = []
    for p, g in zip(pred, gold_json):
        s = evaluate_json(_as_str(p), json.loads(_as_str(g)))
        rows.append(
            (
                s["valid_json"], s["TP"], s["FP"], s["FN"],
                s.get("body_Rouge-L"), s.get("body_BLEU"), s.get("body_METEOR"),
                s.get("body_Levenshtein"), s.get("body_Damerau"),
                s.get("body_Jaro-Winkler"),
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "valid_json", "tp", "fp", "fn",
            "body_rouge_l", "body_bleu", "body_meteor", "body_lev",
            "body_damerau", "body_jw",
        ],
    )
