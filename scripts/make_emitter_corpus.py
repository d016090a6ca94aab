#!/usr/bin/env python
"""Write the continuous sliding emitter's format corpus.

    python scripts/make_emitter_corpus.py TREE [OUT]

TREE is the checkout whose emitter writes the corpus (export a commit
with `git archive <rev> | tar -x -C <dir>`); its src/ is imported. OUT
defaults to tests/corpus/sliding_emitter_v0 of the tree this script
lives in, and is replaced.

The corpus is an IcebergLiteTable dir after `ContinuousSlidingEmitter`
processed epochs 0-1 of tests/pane_batches.py, with no flush: the
emitter's meta json, its pane store and the table's data files and
manifests. The emitter runs at a 0-second watermark, so epoch 1 already
commits one window and the corpus carries a manifest. Manifests list
their data files by absolute path; the copy in OUT lists them relative
to the table dir instead, so the corpus names no host path (readers of
the table go through `data/epoch=<id>`, not that list).

tests/test_streaming.py::test_continuous_sliding_resumes_from_corpus
resumes a copy of it with epochs 2-3 and a flush.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = os.path.abspath(sys.argv[1])
OUT = os.path.abspath(sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    HERE, "tests", "corpus", "sliding_emitter_v0"))
sys.path[:0] = [os.path.join(TREE, "src"), os.path.join(HERE, "tests")]
os.environ["PYTHONPATH"] = os.path.join(TREE, "src")

from glcmstream import state  # noqa: E402
from glcmstream.session import get_spark  # noqa: E402
from glcmstream.sink import IcebergLiteTable  # noqa: E402
from pane_batches import pane_batches  # noqa: E402

WATERMARK = "0 seconds"


def main() -> None:
    spark = get_spark(app="emitter-corpus")
    work = tempfile.mkdtemp(prefix="emitter_corpus_")
    tdir = os.path.join(work, "table")
    em = state.ContinuousSlidingEmitter(IcebergLiteTable(tdir),
                                        watermark=WATERMARK)
    for eid, batch in enumerate(pane_batches(spark)[:2]):
        em.process(batch, eid)
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        with open(path) as f:
            m = json.load(f)
        m["files"] = [os.path.relpath(p, tdir) for p in m["files"]]
        with open(path, "w") as f:
            json.dump(m, f)
    shutil.rmtree(OUT, ignore_errors=True)
    shutil.copytree(tdir, OUT)
    shutil.rmtree(work, ignore_errors=True)
    for root, _, names in sorted(os.walk(OUT)):
        for n in sorted(names):
            print(os.path.relpath(os.path.join(root, n), OUT))


if __name__ == "__main__":
    main()
