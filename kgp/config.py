"""Pipeline configuration (single dataclass — SURVEY.md §7 design stance)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- document assembly (SURVEY A2/W1) ---
    max_turns_per_doc: int = 1024  # conversations longer than this are segmented

    # --- mention detection (F1/F2) ---
    label_scheme: str = "v1"  # sub-token relabel scheme, P7 (v1 B,I,I / v2 B,O,O / v3 B,PAD,PAD)
    max_seq_len: int = 512  # truncation bound, P5 analogue

    # --- pair generation (J10) ---
    coref_turn_window: int = 4  # cross-turn pairing window for coreference

    # --- entity linking (J1/J2, F6, W2, P14) ---
    recall_top_k: int = 8  # candidate recall size (reference uses ES top-128)
    ngram_size: int = 3  # char-ngram shingle for the recall join
    link_threshold: float = 0.35  # P14 threshold on the cross-encoder score

    # --- coref clustering (A14) ---
    coref_threshold: float = 0.5


DEFAULT_CONFIG = PipelineConfig()


@dataclass(frozen=True)
class FixtureConfig:
    """Deterministic synthetic-data knobs (FIXTURES.md §A)."""

    seed: int = 42
    n_entities: int = 120
    n_conversations: int = 200
    mean_turns: int = 10
    max_turns: int = 60
    skew_conv_turns: int = 0  # >0 adds one giant conversation (skew test / bench)
    entities_per_conv: tuple = (2, 6)
    coref_repeat_prob: float = 0.45
    relation_turn_prob: float = 0.5
    variant_surface_prob: float = 0.3  # use a non-alias surface form (fuzzy-EL path)
