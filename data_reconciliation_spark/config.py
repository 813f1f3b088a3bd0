"""Comparison configuration model.

Mirrors the semantics of the reference's YAML mapping loader
(``backend/analysis/mapping.py:27-45`` and ``mapping.yaml:11-65``):
per-field rules ``{type, fuzzy_match, tolerance, formats, clean,
rename_to}`` plus the global flags ``ignore_nulls`` and
``include_missing_records``.  Here the config is a plain frozen
dataclass consumed at *plan-build time* — rule dispatch (reference
``compare.py:259-284``) disappears into Catalyst Column expressions.
"""

from __future__ import annotations

from dataclasses import dataclass, field


VALID_TYPES = {"string", "decimal", "integer", "date", "ignore", None}


@dataclass(frozen=True)
class FieldRule:
    """Per-field comparison rule.

    type:        logical type ('string' | 'decimal' | 'integer' | 'date' |
                 'ignore' | None).  None/unknown => exact comparison, as in
                 reference ``compare.py:281-284``.
    fuzzy_match: similarity threshold 0-100; active only when
                 type == 'string' (reference ``compare.py:276-279``).
    tolerance:   absolute numeric tolerance; active only when
                 type == 'decimal' (reference ``compare.py:271-274``).
    formats:     date format list (declared in the reference config but
                 never read by its compare path — kept for API parity).
    clean:       normalization steps ('strip_whitespace', 'lowercase'),
                 applied at load time (reference ``etl.py:50-57``).
    rename_to:   column rename applied at load time (``etl.py:41-48``).
    """

    type: str | None = None
    fuzzy_match: float | None = None
    tolerance: float | None = None
    formats: tuple[str, ...] = ()
    clean: tuple[str, ...] = ()
    rename_to: str | None = None

    def __post_init__(self) -> None:
        if self.type not in VALID_TYPES:
            raise ValueError(f"unknown field type: {self.type!r}")

    @property
    def is_ignored(self) -> bool:
        return self.type == "ignore"

    @property
    def is_fuzzy(self) -> bool:
        # Reference dispatch: fuzzy only if type==string AND fuzzy_match set
        # (compare.py:276).
        return self.type == "string" and self.fuzzy_match is not None

    @property
    def is_tolerance(self) -> bool:
        # Reference dispatch: tolerance only if type==decimal AND tolerance
        # set (compare.py:271).
        return self.type == "decimal" and self.tolerance is not None

    @classmethod
    def from_dict(cls, d: dict) -> "FieldRule":
        return cls(
            type=d.get("type"),
            fuzzy_match=d.get("fuzzy_match"),
            tolerance=d.get("tolerance"),
            formats=tuple(d.get("formats", ()) or ()),
            clean=tuple(d.get("clean", ()) or ()),
            rename_to=d.get("rename_to"),
        )


@dataclass(frozen=True)
class ReconConfig:
    """Global reconciliation config (reference ``mapping.yaml:11-16``).

    ignore_nulls:            True => null-vs-value is ignored (match);
                             null-vs-null always matches either way
                             (reference ``compare.py:334-341``).
    include_missing_records: True => anti-join rows emit
                             ``_record_status`` exceptions
                             (``compare.py:229-254``).
    fields:                  per-column FieldRule map.
    """

    ignore_nulls: bool = False
    include_missing_records: bool = False
    fields: dict[str, FieldRule] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict | None) -> "ReconConfig":
        d = d or {}
        return cls(
            ignore_nulls=bool(d.get("ignore_nulls", False)),
            include_missing_records=bool(d.get("include_missing_records", False)),
            fields={
                k: (v if isinstance(v, FieldRule) else FieldRule.from_dict(v or {}))
                for k, v in (d.get("fields") or {}).items()
            },
        )

    def rule(self, col: str) -> FieldRule:
        return self.fields.get(col, FieldRule())


@dataclass(frozen=True)
class MappingConfig:
    """Full YAML mapping-file contents: global flags + field rules
    (``recon``) plus the metadata the reference's loader also returns —
    ``pair_name`` (normalized system-pair label, used as the saved-run
    system name when present) and ``pk`` (declared primary-key columns,
    used when the caller supplies none)."""

    recon: ReconConfig
    pair_name: str | None = None
    pk: tuple[str, ...] = ()


def load_mapping(path: str) -> MappingConfig:
    """Load a reconciliation mapping YAML into a :class:`MappingConfig`.

    Parity with the reference loader (``backend/analysis/mapping.py:27-45``
    over ``mapping.yaml:11-65``):

    * ``pair_name`` is str()'d, stripped, lowercased;
    * ``pk`` entries are stripped + lowercased;
    * field names are stripped + lowercased; a field with no rules
      (``name:`` with empty body) gets the default rule;
    * per-field keys ``type / fuzzy_match / tolerance / formats / clean /
      rename_to`` and global ``ignore_nulls`` /
      ``include_missing_records`` flow into :class:`ReconConfig` exactly
      as :meth:`ReconConfig.from_dict` defines them.
    """
    import yaml

    with open(path, "r") as f:
        cfg = yaml.safe_load(f) or {}
    if not isinstance(cfg, dict):
        raise ValueError(f"mapping file {path!r} must be a YAML mapping")
    pair_name = cfg.get("pair_name")
    if pair_name is not None:
        pair_name = str(pair_name).strip().lower()
    pk = tuple(str(k).strip().lower() for k in cfg.get("pk", []) or [])
    fields = {
        str(name).strip().lower(): (rules or {})
        for name, rules in (cfg.get("fields") or {}).items()
    }
    recon = ReconConfig.from_dict(
        {
            "ignore_nulls": cfg.get("ignore_nulls", False),
            "include_missing_records": cfg.get("include_missing_records", False),
            "fields": fields,
        }
    )
    return MappingConfig(recon=recon, pair_name=pair_name, pk=pk)


@dataclass(frozen=True)
class BlockingConfig:
    """Knobs for the ER blocking stage (engine extension; no reference
    analog — the reference's only blocking key is the primary key).

    Every page is blocked on its normalized-URL host key plus its
    MinHash-LSH band keys; ``blocking.bucket_pairs`` self-joins the
    (id, block_key) table, salted against hot hosts.  The MinHash knobs
    also configure ``dedup.minhash_lsh_pairs``."""

    num_hashes: int = 64          # MinHash signature length
    bands: int = 16               # LSH bands (rows = num_hashes // bands)
    shingle_size: int = 3         # token shingles for MinHash
    # Blocks above this member count are star-paired to their min-id
    # member instead of self-joined (``bucket_pairs``; a 500-member block
    # is already 125k pairs).  Content-based MinHash bands retain recall
    # inside oversized host blocks — a hot host with millions of pages is
    # a useless *blocking* signal anyway.
    max_block_size: int | None = 500
    # Shuffle 8-byte xxhash ids through the block self-join instead of
    # raw id strings (the widest exchange of the pipeline); real ids are
    # joined back from a compact mapping afterwards.  Hash collisions can
    # only add candidates (verified by scoring), never drop true pairs.
    dictionary_ids: bool = True

    @property
    def rows_per_band(self) -> int:
        if self.num_hashes % self.bands:
            raise ValueError("num_hashes must be divisible by bands")
        return self.num_hashes // self.bands


@dataclass(frozen=True)
class ScoringConfig:
    """Thresholds for pair verdicts (engine extension over reference
    F1-F3 semantics, ``compare.py:326-403``)."""

    title_jw_threshold: float = 0.95     # Jaro-Winkler on page title
    token_jaccard_threshold: float = 0.70
    simhash_max_hamming: int = 8
    # verdict = weighted vote; a pair is a match when score >= match_threshold
    match_threshold: float = 0.5
    # cascade prefilter: the Arrow UDF (Jaro-Winkler on url/title) runs
    # only on pairs with at least this much cheap native evidence
    # (inputs are NULLED otherwise).  MUST be <= the verdict thresholds
    # above so skipping is semantics-preserving: with NULL UDF features
    # the score is at most 0.45 * prefilter_jaccard < match_threshold
    # and no strong-evidence branch can fire.
    prefilter_jaccard: float = 0.30
    prefilter_hamming: int = 16

    def __post_init__(self) -> None:
        if self.prefilter_jaccard > self.token_jaccard_threshold:
            raise ValueError("prefilter_jaccard must be <= token_jaccard_threshold")
        if self.prefilter_hamming < self.simhash_max_hamming:
            raise ValueError("prefilter_hamming must be >= simhash_max_hamming")
