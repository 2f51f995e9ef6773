"""Measurement helpers shared by the timed and the traced runs:
process-tree RSS sampling, output sizes, and the ground-truth quality
metrics and correctness gate."""

from __future__ import annotations

import os
import signal
import threading
import time
from collections import defaultdict

import pandas as pd

PLANTED_KINDS = ("exact", "near", "contained", "chain", "skew")
EXACT_KINDS = ("exact", "skew")

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_mb(root: int) -> float:
    """Summed resident set of ``root`` and all its descendants (the
    driver JVM and the Python workers it forks)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


def kill_tree(root: int) -> None:
    for pid in reversed(process_tree(root)):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL the ones still running
    after ``timeout_s`` and wait for those too."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = float("inf")
        time.sleep(0.1)


class RssSampler:
    """Polls the summed RSS of a process tree on a background thread and
    keeps the peak, from ``start()`` until ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def data_bytes(root: str, skip: tuple[str, ...] = ()) -> int:
    """Bytes of the data files under ``root``: hidden checksum files
    (``.*.crc``), markers (``_SUCCESS``) and ``skip`` directories are
    not output data."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in skip]
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in filenames if not f.startswith((".", "_")))
    return total


def count_files(root: str) -> int:
    return sum(1 for _, _, fs in os.walk(root) for f in fs
               if not f.startswith((".", "_")))


def quality(gt: pd.DataFrame, clusters: pd.DataFrame) -> dict:
    """Recall of planted groups and the spurious rate of singletons.

    ``gt``: (file_id, gt_kind, gt_group, gt_member); ``clusters``:
    (file_id, cluster_id) for every clustered file. A file outside any
    cluster is labelled with its own ``file_id``, which no cluster uses
    (cluster ids are member ids)."""
    # nullable ints: a float round trip would merge distinct 64-bit ids
    df = gt.merge(clusters.astype({"cluster_id": "Int64"}), on="file_id",
                  how="left")
    df["label"] = df["cluster_id"].fillna(df["file_id"]).astype("int64")
    planted = df[df["gt_kind"].isin(PLANTED_KINDS)]
    base = (planted[planted["gt_member"] == 0]
            .set_index(["gt_kind", "gt_group"])["label"])
    members = planted[planted["gt_member"] > 0]
    hit = (members.join(base.rename("base_label"),
                        on=["gt_kind", "gt_group"])
           .eval("label == base_label"))
    exact_hit = hit[members["gt_kind"].isin(EXACT_KINDS)]
    single = df[df["gt_kind"] == "singleton"]
    return {
        "planted_members": int(len(members)),
        "planted_recall": float(hit.mean()) if len(hit) else 1.0,
        "exact_recall": float(exact_hit.mean()) if len(exact_hit) else 1.0,
        "singletons": int(len(single)),
        "spurious_rate": (float(single["cluster_id"].notna().mean())
                          if len(single) else 0.0),
        "unknown_ids": int((~clusters["file_id"].isin(gt["file_id"])).sum()),
    }
