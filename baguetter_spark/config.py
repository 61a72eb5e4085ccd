"""Index + preprocessing configuration.

Mirrors the parameter surface of the reference engine
(`baguetter/indices/sparse/config.py:9-25`, ctor defaults
`baguetter/indices/sparse/base.py:28-92`): the effective BM25 defaults are
k1=1.2, b=0.75, delta=0.5, method="lucene", idf_method="lucene",
dtype=float32, int_dtype=int32, normalize_scores=False.  ``min_df`` exists
but is NOT applied by the BM25 index (reference never forwards it,
`baguetter/indices/sparse/bm25.py:68-78`) — we keep that exact behavior.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from typing import Any

BM25_METHODS = ("robertson", "lucene", "atire", "bm25l", "bm25plus")
NON_OCCURRENCE_METHODS = frozenset({"bm25l", "bm25plus"})


@dataclasses.dataclass
class TextPreprocessorConfig:
    """Mirror of the reference preprocessor config
    (`baguetter/indices/sparse/text_preprocessor/text_processor.py:84-109`).

    ``tokenizer`` supports "whitespace" (``str.split`` semantics),
    "wordpunct" (nltk WordPunctTokenizer regex, vendored), "word" (vendored
    Penn Treebank rule cascade over rule-split sentences) and "sent"
    (rule-based sentence splitter — a documented deterministic
    approximation of nltk's trained punkt model; see functions/treebank.py).
    ``stemmer`` covers all 25 languages of the reference registry —
    "english" (Snowball/Porter2), "german", "french", "spanish",
    "russian", "portuguese", "italian", "dutch", "swedish", "norwegian",
    "danish", "romanian", "finnish", "hungarian", "catalan" (published
    Snowball specs), "indonesian", "hindi", "turkish", "arabic",
    "irish", "nepali", "lithuanian", "basque", "greek", "tamil"
    (published light/confix algorithms; see each module's docstring) —
    plus the non-Snowball algorithms "porter", "lancaster", "cistem",
    "isri" (Taghva et al. 2005 root extraction), "arlstem" / "arlstem2"
    (Abainia et al. light stemmer), "krovetz" (dictionary-less KStem
    projection — derivational steps are lexicon-gated restore-on-miss in
    the published algorithm, so offline they are identity; see
    functions/kstem.py), or None — every reference registry entry
    (see functions/isri.py and functions/arlstem.py provenance notes).
    ``stopwords`` supports "english" (vendored nltk list), a set, or
    None.  ``do_diacritics_normalization`` (engine extension, default off —
    the reference ships ``normalize_diacritics`` but never wires it into its
    pipeline) ASCII-folds diacritics after special-chars normalization.
    """

    tokenizer: str = "whitespace"
    stemmer: str | None = "english"
    stopwords: str | set[str] | None = "english"
    do_lowercasing: bool = True
    do_ampersand_normalization: bool = True
    do_special_chars_normalization: bool = True
    do_acronyms_normalization: bool = True
    do_punctuation_removal: bool = True
    do_diacritics_normalization: bool = False

    @classmethod
    def parity(cls) -> TextPreprocessorConfig:
        """The config the reference's own authoritative unit tests use
        (whitespace split, no stemmer/stopwords — see
        `tests/mock_utils/text_preprocessor.py:11-27` in the reference)."""
        return cls(stemmer=None, stopwords=None)

    def to_dict(self) -> dict[str, Any]:
        d = dataclasses.asdict(self)
        if isinstance(d["stopwords"], set):
            d["stopwords"] = sorted(d["stopwords"])
        return d


@dataclasses.dataclass
class SparseIndexConfig:
    """Mirror of the reference `SparseIndexConfig` defaults."""

    index_name: str = "new-index"
    min_df: float = 1  # kept for API parity; unused by BM25 (see module docstring)
    b: float = 0.75
    k1: float = 1.2
    delta: float = 0.5
    method: str = "lucene"
    idf_method: str = "lucene"
    dtype: str = "float32"
    int_dtype: str = "int32"
    alpha: float | None = None
    beta: float | None = None
    normalize_scores: bool = False
    # robertson idf only: permit negative idf for df > n/2 terms instead of
    # clamping at 0 (reference scoring.py:167-172 allow_negative)
    allow_negative: bool = False
    preprocessor: TextPreprocessorConfig = dataclasses.field(
        default_factory=TextPreprocessorConfig
    )

    # --- engine-side knobs (no reference counterpart; scale/layout only,
    # they do not change scoring semantics) ---
    block_doc_range: int = 1 << 16  # doc_idx range per posting-block row (bounds shuffle groups)

    def __post_init__(self) -> None:
        if self.method not in BM25_METHODS:
            msg = f"Invalid BM25 method: {self.method}. Choose from {', '.join(BM25_METHODS)}."
            raise ValueError(msg)
        if self.idf_method not in BM25_METHODS:
            msg = f"Invalid BM25 idf method: {self.idf_method}."
            raise ValueError(msg)

    def to_dict(self) -> dict[str, Any]:
        d = dataclasses.asdict(self)
        d["preprocessor"] = self.preprocessor.to_dict()
        return d

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> SparseIndexConfig:
        d = dict(d)
        # written by indexes saved before the per-sub-block maxima were
        # dropped from the posting rows; nothing reads it
        d.pop("sub_block_size", None)
        pre = d.pop("preprocessor", None)
        cfg = cls(**d)
        if pre is not None:
            if isinstance(pre.get("stopwords"), list):
                pre["stopwords"] = set(pre["stopwords"])
            cfg.preprocessor = TextPreprocessorConfig(**pre)
        return cfg

    def config_hash(self) -> str:
        """Stable hash for checkpoint-manifest validation."""
        payload = json.dumps(self.to_dict(), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
