"""Replay-source lockstep, asserted.

Every streaming drive reads its staged batch files through
sources/replay.replay_stream, the one place that decides how many
files a trigger takes. A reader built by hand elsewhere lets that
decision drift per drive, so this test fails if any module of the
package other than sources/replay.py sets ``maxFilesPerTrigger``.
"""

from __future__ import annotations

import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "flink_streaming_kmeans_spark",
)
OWNER = os.path.join("sources", "replay.py")


def _mentions(path: str) -> list[int]:
    with open(path) as f:
        return [i for i, line in enumerate(f, 1) if "maxFilesPerTrigger" in line]


def test_only_replay_sets_max_files_per_trigger():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), PKG)
            if name.endswith(".py") and rel != OWNER:
                offenders += [f"{rel}:{i}" for i in _mentions(os.path.join(PKG, rel))]
    assert not offenders, (
        "read staged batches through sources/replay.replay_stream instead "
        f"of setting maxFilesPerTrigger here: {offenders}"
    )
    assert _mentions(os.path.join(PKG, OWNER)), "replay_stream no longer sets it"
