"""Engine configuration.

The 16 hyperparameters of the reference pipeline (defaults from reference
``core.py:444-448`` / ``src/interface.c:20-27``), recast for the 1-D
tokenized-sequence domain, plus Spark-side knobs (partitioning, salting,
Arrow batch sizing) that have no reference counterpart.

Reference defaults: h=18, s=2, v=3, black=gray=0.1, coverage=0.95,
linked_list_size=1000 (n/a here), downsample=1, radius=40, angle=72,
quantity_weight=0.1, saturation_value_weight=0.9, fft_streak_thresh=1.20,
magnitude_thresh=0.3, cutoff_ratio_denom=2.  (The C test harness uses
streak=1.15, ``src/test/test.c:41`` — a config choice, not a constant.)
"""

from __future__ import annotations

from dataclasses import dataclass, field


VOCAB_SIZE = 50257  # GPT-2-style vocab; tokens are int32 in [0, VOCAB_SIZE)

# Deterministic token -> pseudo-HSV embedding (canonical 1-D recast of the
# reference's per-pixel HSV channels; see kernels.derive_hsv).
HUE_MOD = 997   # prime; h = 360 * (t % 997) / 997
SAT_MOD = 31    # prime; s = (t % 31) / 31


@dataclass(frozen=True)
class EngineConfig:
    # --- histogram / palette (reference core.py:444-445) ---
    h_parts: int = 18
    s_parts: int = 2
    v_parts: int = 3
    black_thresh: float = 0.1
    gray_thresh: float = 0.1
    coverage_thresh: float = 0.95
    quantity_weight: float = 0.1
    saturation_value_weight: float = 0.9

    # --- spectral (reference core.py:446-448) ---
    radius_parts: int = 40        # spectrum bands / radius bins
    angle_parts: int = 72         # blur-profile angle bins
    fft_streak_thresh: float = 1.20
    magnitude_thresh: float = 0.3
    cutoff_ratio_denom: int = 2
    frame_width: int = 256        # 1-D -> 2-D framing width for blur profile

    # --- misc kernels ---
    downsample_rate: int = 1
    autocorr_lags: int = 16
    bandpass_filters: int = 6
    bandpass_taps: int = 15
    sharpness_threshold: float = 0.2   # src/filtering.c:6

    # --- validation (reference src/utilities.c:11-13,69) ---
    min_tok: int = 350
    max_tok: int = 120_000_000

    # --- Spark-side scale knobs (no reference counterpart) ---
    shuffle_partitions: int = 32
    # Arrow batch sizing: the length-grouped batch kernels scale with GROUP
    # size, and groups live inside one Arrow batch — 256-row batches gave
    # ~4-row groups on an LLM-length corpus and left 2.5x throughput on the
    # table (measured r3: 49k -> 124k rows/s at 8192; r7's Arrow-native
    # kernel re-measured single-core 35k -> 42k rows/s going 8192 -> 16384,
    # so the cap was raised — effective batches are min(cap, partition
    # rows) anyway). Long-doc safety is the BYTES cap, not the row cap:
    # Spark 4's maxBytesPerBatch slices a batch early when wide token
    # arrays approach arrow_batch_bytes.
    arrow_batch_rows: int = 16384
    arrow_batch_bytes: str = "64m"

    @property
    def num_grays(self) -> int:
        return self.v_parts

    @property
    def hist_cells(self) -> int:
        # reference src/color_quantization.c:39
        return self.h_parts * self.s_parts * self.v_parts + self.num_grays + 1

    @property
    def Lh(self) -> int:
        # NOTE: integer division, replicating src/color_quantization.c:41
        return 360 // self.h_parts

    @property
    def Ls(self) -> float:
        return (1.0 - self.gray_thresh) / self.s_parts

    @property
    def Lv(self) -> float:
        return (1.0 - self.black_thresh) / self.v_parts


DEFAULT_CONFIG = EngineConfig()
