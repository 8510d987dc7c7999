"""What the model registry (graft's AnnModels store) holds, seen from outside.

Every artifact commits by writing a `_GRAFT_COMPLETE` marker last, so a
marker path with its modification time identifies one build.
"""
import os

MARKER = "_GRAFT_COMPLETE"


def markers(root):
    """{marker path: mtime_ns} for every committed artifact under `root`."""
    found = {}
    for d, _, files in os.walk(root):
        if MARKER in files:
            p = os.path.join(d, MARKER)
            found[p] = os.stat(p).st_mtime_ns
    return found


def builds(before, after):
    """Markers written between two `markers` snapshots."""
    return sum(1 for p, t in after.items() if before.get(p) != t)


def tree_bytes(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.lstat(os.path.join(d, f)).st_size
    return total
