"""Input sizes. ``full`` is what every timed and traced run uses;
``tiny`` exists only for the self-test, which checks the benchmark's
wiring in seconds, not the program's speed."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Size:
    duration_s: int        # recording length
    n_gaps: int            # acquisition gaps in the recording
    ingest_files: int      # backlog files drained per ingest round
    ingest_channels: int
    seg_samples: int       # samples per ingest segment
    segs_per_file: int     # segments per channel per file
    warm_files: int        # files of the warm-up drain
    n_docs: int            # rows of the analytics documents table
    n_embs: int            # rows of the analytics embeddings table


SIZES = {
    "full": Size(
        duration_s=660, n_gaps=8, ingest_files=128, ingest_channels=25,
        seg_samples=800, segs_per_file=2, warm_files=4, n_docs=500, n_embs=500,
    ),
    "tiny": Size(
        duration_s=620, n_gaps=6, ingest_files=40, ingest_channels=4,
        seg_samples=256, segs_per_file=1, warm_files=2, n_docs=120, n_embs=60,
    ),
}
