"""Source lockstep, asserted.

Every streaming drive reads its staged batch files through
sources/replay.replay_stream, the one place that decides how many
files a trigger takes. A reader built by hand elsewhere lets that
decision drift per drive, so this test fails if any module of the
package other than sources/replay.py sets ``maxFilesPerTrigger``.

Likewise every session-global conf flip goes through
session.scoped_confs, the one save/restore under the drive lock. A
hand-written save (``.conf.get(``) or restore (``.conf.unset(``)
elsewhere in the package or tools/ skips that lock, so the second
test fails on either outside session.py.

And every availableNow drive runs through sources/replay.
run_available_now, the one place that sets the trigger and the
checkpoint location (a temp dir it removes, or the caller's resume
path). The third test fails if any module of the package, tools/ or
tests/ outside replay.py names either. perfbench/ is exempt: the
benchmark is frozen between benchmark changes, and the runner
replaces the checkpoint its drive sets.

Every temp path the package writes comes from session.scratch_path,
under one per-process root removed at exit. The fourth test fails if
any package module other than session.py picks a temp location itself.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "flink_streaming_kmeans_spark")
OWNER = os.path.join("sources", "replay.py")
CONF_OWNER = os.path.join("flink_streaming_kmeans_spark", "session.py")
DRIVE_OWNERS = {
    os.path.join("flink_streaming_kmeans_spark", "sources", "replay.py"),
    os.path.join("tests", "test_source_lockstep.py"),  # holds the needles
}


def _mentions(path: str, *needles: str) -> list[int]:
    with open(path) as f:
        return [
            i for i, line in enumerate(f, 1) if any(n in line for n in needles)
        ]


def test_only_replay_sets_max_files_per_trigger():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), PKG)
            if name.endswith(".py") and rel != OWNER:
                offenders += [
                    f"{rel}:{i}"
                    for i in _mentions(os.path.join(PKG, rel), "maxFilesPerTrigger")
                ]
    assert not offenders, (
        "read staged batches through sources/replay.replay_stream instead "
        f"of setting maxFilesPerTrigger here: {offenders}"
    )
    assert _mentions(os.path.join(PKG, OWNER), "maxFilesPerTrigger"), (
        "replay_stream no longer sets it"
    )


def test_only_session_saves_and_restores_confs():
    offenders = []
    for top in ("flink_streaming_kmeans_spark", "tools"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in sorted(files):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if name.endswith(".py") and rel != CONF_OWNER:
                    offenders += [
                        f"{rel}:{i}"
                        for i in _mentions(
                            os.path.join(REPO, rel), ".conf.get(", ".conf.unset("
                        )
                    ]
    assert not offenders, (
        "scope session confs with session.scoped_confs instead of saving "
        f"or restoring them here: {offenders}"
    )
    assert _mentions(os.path.join(REPO, CONF_OWNER), ".conf.get("), (
        "scoped_confs no longer saves confs"
    )


def test_only_replay_starts_drives():
    offenders = []
    for top in ("flink_streaming_kmeans_spark", "tools", "tests"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in sorted(files):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if name.endswith(".py") and rel not in DRIVE_OWNERS:
                    offenders += [
                        f"{rel}:{i}"
                        for i in _mentions(
                            os.path.join(REPO, rel),
                            "checkpointLocation",
                            "availableNow=True",
                        )
                    ]
    assert not offenders, (
        "run the drive through sources/replay.run_available_now instead "
        f"of setting its trigger or checkpoint here: {offenders}"
    )


def test_only_session_makes_scratch():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if name.endswith(".py") and rel != CONF_OWNER:
                offenders += [
                    f"{rel}:{i}"
                    for i in _mentions(
                        os.path.join(REPO, rel),
                        "tempfile",
                        "mkdtemp",
                        "gettempdir",
                        "_tmp_out",
                    )
                ]
    assert not offenders, (
        "take temp paths from session.scratch_path instead of choosing "
        f"them here: {offenders}"
    )
    assert _mentions(os.path.join(REPO, CONF_OWNER), "tempfile.mkdtemp"), (
        "scratch_path no longer makes the root"
    )
