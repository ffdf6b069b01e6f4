"""Shared protocol for digest-keyed, build-once materialized fixtures.

Several registry queries exercise SERVING paths over state that some
maintenance job built earlier (the IVF-PQ index, the two-epoch drift
index, the governed/erased table, the decayed-counter state).  Each is
materialized in /tmp at most once per (testdata generation, build
parameters) under one shared protocol — previously four drifting copies
of the same code (code-review r8, round 2):

- **digest root**: the directory name folds the SOURCE files
  (name + size + mtime in ns) and every build parameter, so regenerated
  testdata or changed hyperparameters mint a NEW root and the stale
  build is simply never read again — the staleness contract
  :mod:`..cache` uses for persist slots.
- **claim-then-verify** (:func:`claim_or_clear_root`): a root missing
  its completion marker is a torn artifact of a crashed build — but a
  concurrent builder may complete its atomic rename between the marker
  check and any removal, so the root is first CLAIMED by renaming it
  aside (exactly one process wins), the marker re-checked on the
  claimed copy, and only a provably-stale half-build destroyed.
- **staging + atomic publish** (:func:`ensure_built`): the build lands
  in a process-unique staging directory with its marker already inside,
  then renames into place — two processes racing on a cold root cannot
  interleave writes into one directory; the loser's rename fails and
  its staging copy is discarded (builds are deterministic, so both
  copies are identical anyway).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable, Sequence


def digest_root(namespace: str, src_paths: Iterable[str], params: Sequence) -> str:
    """/tmp root keyed by source-file identity (name+size+mtime) and the
    build parameters (see module doc).  The mtime is taken in ns: a
    same-size rewrite within one second must still mint a new root."""
    entries = ["params#" + "#".join(str(p) for p in params)]
    for src in src_paths:
        if os.path.isdir(src):
            for name in sorted(os.listdir(src)):
                st = os.stat(os.path.join(src, name))
                entries.append(f"{name}#{st.st_size}#{st.st_mtime_ns}")
        elif os.path.exists(src):
            st = os.stat(src)
            entries.append(f"{src}#{st.st_size}#{st.st_mtime_ns}")
    digest = hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), namespace, digest)


def claim_or_clear_root(root: str, marker_name: str) -> str | None:
    """TOCTOU-safe handling of an existing build root that is missing
    its completion marker: rename it ASIDE (an atomic claim — exactly
    one process gets the directory), re-check the marker on the claimed
    copy, and only destroy a PROVABLY stale half-build.  A build that
    completed between the caller's marker check and the claim is put
    back (or served from the aside path if a rival re-occupied the
    root).  Returns the path of a COMPLETE root if one surfaced, else
    None (the root name is now clear for an atomic rename)."""
    if not os.path.isdir(root):
        return None
    aside = f"{root}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(root, aside)
    except OSError:
        return None  # another process already claimed/removed it
    if os.path.exists(os.path.join(aside, marker_name)):
        try:
            os.rename(aside, root)
            return root
        except OSError:
            return aside
    shutil.rmtree(aside, ignore_errors=True)
    return None


def ensure_built(
    root: str, marker_name: str, build: Callable[[str], None]
) -> str:
    """Build ``root`` at most once: fast-path on the marker, claim/clear
    torn roots, then ``build(staging_dir)`` + marker + atomic rename
    (losers of the rename race discard their staging copy)."""
    marker = os.path.join(root, marker_name)
    if os.path.exists(marker):
        return root
    done = claim_or_clear_root(root, marker_name)
    if done is not None:
        return done
    staging = f"{root}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    build(staging)
    with open(os.path.join(staging, marker_name), "w", encoding="utf-8") as fh:
        fh.write("ok\n")
    try:
        os.rename(staging, root)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
    return root
