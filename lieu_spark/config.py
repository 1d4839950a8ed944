"""Pipeline configuration.

The reference hard-codes its blocking/scoring knobs (geohash precision 6/7,
likely>=0.9 / review>=0.7 thresholds — /root/reference/lib/lieu/dedupe.py:69,
lib/lieu/api.py:61-64). We keep the same two-tier thresholds and make every
knob explicit so the pytest oracle and the Spark path provably share one
config (BASELINE.md: "same shingle/signature config").
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

MASK64 = (1 << 64) - 1
XXHASH_DEFAULT_SEED = 42  # Spark's F.xxhash64 seed (fixed in Spark source)


@dataclass(frozen=True)
class DedupeConfig:
    """Knobs for the transcript dedupe pipeline.

    MinHash uses one-permutation hashing with rotation densification
    (functions/minhash.py); the numpy pandas-UDF path and the
    pure-python oracle share identical uint64 wrap-around semantics,
    so signatures are byte-identical.
    """

    # --- shingling ---
    shingle_k: int = 5          # words per shingle
    # no-space-script (CJK) fallback: docs whose mean chars-per-token
    # ratio >= char_fallback_avg_len switch from word shingles to char
    # k-grams over the space-stripped canonical text (the reference
    # delegates to libpostal's language-aware tokenizer,
    # lib/lieu/dedupe.py:328-331; functions/text.char_kgram_hash_set).
    # Latin corpora sit at ~5-6 chars/token and are untouched.
    char_kgram_k: int = 12      # chars per gram (~2-3 latin words)
    char_fallback_avg_len: float = 10.0
    # hysteresis band around the fallback boundary: docs whose ratio
    # falls in [avg*(1-h), avg*(1+h)) emit BOTH gram families (word
    # shingles AND char k-grams) and band in both, so a near-dup pair
    # straddling the boundary (e.g. a CJK doc vs a copy with a few
    # latin tokens appended) still shares a family — without this the
    # two hash families are disjoint and the pair is guaranteed lost
    # (round-2 advisory). 0.0 disables (single-family, pre-r3 behavior).
    char_fallback_hysteresis: float = 0.2
    # --- MinHash / LSH (one-permutation hashing; see functions/minhash.py)
    num_perm: int = 128         # OPH bins; must be a power of two
    lsh_bands: int = 32         # b
    lsh_rows: int = 4           # r ; b*r == num_perm
    # --- verification thresholds (lieu: api.py:61-64) ---
    threshold_likely: float = 0.9
    threshold_review: float = 0.7
    # --- SimHash near-exact path ---
    # whether banding emits the SimHash chunk FAMILY (lsh.band_table_dual;
    # every entry point then pairs it through the band joins). Lives in
    # the config — not a run_pipeline argument — so the
    # checkpoint/refresh fingerprint captures it: a
    # store built without the family can never be silently refreshed
    # WITH it (or vice versa), which would break refresh-vs-scratch
    # parity. The simhash COLUMN is always computed (it rides the same
    # Arrow pass as MinHash, marginal cost ~0), so column presence says
    # nothing about whether the family was enabled.
    # NOTE: adding this field also bumped every config fingerprint once,
    # intentionally covering the assembly null-text→'' behavior change
    # (operators/assemble.py) — pre-change stage checkpoints hold stale
    # text_shas for null-text corpora and must recompute.
    with_simhash_path: bool = True
    simhash_bits: int = 64
    simhash_hamming_max: int = 3
    simhash_chunks: int = 4     # pigeonhole blocks for hamming<=3
    # --- skew handling ---
    hot_band_cap: int = 2000    # members per band group before sub-splitting
    # SimHash hot-chunk salting is OPT-IN (None = never split): unlike LSH
    # bands — where a pair lost to a split group is recovered by b-1 other
    # bands with high probability — the pigeonhole guarantee ("hamming<=3
    # collides on >=1 of 4 chunks") is *exactly* 1 colliding chunk in the
    # worst case, so splitting that one group silently loses the pair.
    # Set a cap only when a boilerplate-heavy corpus makes a chunk group
    # quadratic; losses then surface in lsh.band_stats (is_hot chunk
    # groups, bands 2*lsh_bands..).
    simhash_hot_chunk_cap: int | None = None
    # cap on turns assembled per conversation (None = unbounded): bounds
    # the collect_list buffer + doc size against a single pathological
    # conversation with millions of turns (assembly analog of
    # hot_band_cap); kept rows are the deterministic lowest-turn_idx
    # prefix, capped convs flagged `truncated`
    max_turns_per_conv: int | None = None
    # --- copied-span stage ---
    span_min_len: int = 60      # chars; minimum reported common substring
    span_max_chars: int = 20000  # cap per-text length fed to the suffix array
    span_low: float = 0.3       # also scan verified pairs with jaccard >= low
    # winnowing-style span blocking: inverted index over sampled shingles
    span_sample_mod: int = 8    # keep shingle hashes where pmod(h, mod)==0
    span_min_shared: int = 2    # sampled shingles shared to become a candidate
    span_stop_docfreq: int = 50  # drop sampled shingles in > this many docs
    # --- verification mode ---
    # "shingles": exact Jaccard on distinct shingle-hash sets (matches oracle
    #             bit-for-bit; default, used for the recall gate)
    # "signatures": estimated Jaccard = fraction of agreeing MinHash
    #             components (cheaper at 100 TB: 1 KB/row instead of the
    #             full shingle set)
    # "soft_tfidf": lieu's token-edit-tolerant Soft-TFIDF
    #             (similarity.py:14-60, functions/softtfidf.py) — the
    #             tier for per-token typos that tank set Jaccard; the
    #             similarity column then holds the Soft-TFIDF score
    verify_mode: str = "shingles"
    # Soft-TFIDF knobs (verify_mode="soft_tfidf"): token-level
    # Jaro-Winkler threshold (quantized x1e6; lieu's theta=0.95) and the
    # per-doc cap on iterated tokens (the max_tokens RAREST by integer
    # (df, -tf, token) rank — bounds the per-pair O(k^2) JW cost)
    soft_theta6: int = 950_000
    soft_max_tokens: int = 64
    # --- auxiliary-field pair rules (operators/asymmetry.py) ---
    # P8 asymmetric-evidence guard (lib/lieu/dedupe.py:103-108): when set
    # to a transcript column (e.g. "tool"), a pair where exactly one
    # conversation carries any non-empty value of that column is
    # classified `null_dupe` (refused) instead of scored. None = off.
    # CONTRACT: aux fields must be LOW-CARDINALITY CATEGORICAL (tool
    # names, role sets) — blocking reps are per (text_sha, signature)
    # subgroup in aux mode, so a free-form field (session ids, text)
    # would make every boilerplate copy its own banded rep and re-open
    # the quadratic blowup the per-sha rep exists to prevent.
    asymmetry_field: str | None = None
    # F10 verdict revision (PhoneNumberDeduper.revised_dupe_class,
    # lib/lieu/dedupe.py:356-372): when set, needs_review pairs whose
    # per-conv field signatures match upgrade to likely_duplicate, and
    # likely_duplicate pairs with both-present-but-different signatures
    # downgrade to needs_review. None = off.
    # NOTE: adding these fields bumps every config fingerprint once
    # (pre-r5 stage checkpoints recompute) — same policy as the
    # with_simhash_path addition.
    revision_field: str | None = None

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError("lsh_bands * lsh_rows must equal num_perm")
        if self.num_perm & (self.num_perm - 1):
            raise ValueError("num_perm must be a power of two (OPH bins)")
        if self.simhash_bits % self.simhash_chunks != 0:
            raise ValueError("simhash_bits must divide into simhash_chunks")
        if self.simhash_hamming_max >= self.simhash_chunks:
            # the pigeonhole guarantee is "hamming <= chunks-1 collides
            # on >= 1 chunk": a pair at hamming == chunks can differ in
            # EVERY chunk, never becomes a candidate, and is silently
            # missing even though the hamming filter would accept it —
            # a recall hole with no error and no is_hot metric
            raise ValueError(
                "simhash_hamming_max must be < simhash_chunks (pigeonhole "
                f"blocking), got {self.simhash_hamming_max} vs "
                f"{self.simhash_chunks} chunks"
            )

    def fingerprint(self) -> str:
        """Content-address of the config — stamped into checkpoint stage
        metadata so a resume with a different config recomputes instead of
        silently reusing stale stage tables (SURVEY.md §7.3 hard part e).

        ``aux_semantics`` is an explicit schema revision for the
        auxiliary-rule PLAN SHAPE (subgrouped reps/star, injective sig
        encoding): a semantic fix to how aux mode blocks/classifies must
        bump it so store-backed resumes of aux-enabled configs recompute
        instead of serving stages built under the old semantics. Only
        mixed in when a rule is active, so plain-config fingerprints
        (and their stores) are untouched by aux revisions.

        ``band_schema`` is the same kind of revision for the band state
        of every config: revision 2 stores the SimHash chunk family as
        band rows (with a simhash column); revision 3 stores a stream's
        bands as plain per-batch subdirs, with no band-hash bucket
        partitions under them. Stage stores and stream work_dirs written
        before a revision recompute or are refused instead of silently
        missing chunk rows or mixing band layouts."""
        d = asdict(self)
        d["band_schema"] = 3
        if self.asymmetry_field is not None or self.revision_field is not None:
            d["aux_semantics"] = 2
        payload = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupeConfig()
