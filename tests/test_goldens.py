"""Golden-output pins for the 13 rows-only queries (round-3 verdict
#4): the driver can only rows+schema-check queries without a DuckDB
twin, so each one's full sf0.001 result is committed as a canonical
parquet snapshot and re-derived here — a value regression in any
rows-only operator (GLCM state pipelines, seeded MinHash/SimHash/
hyperplane signatures, IVF, HLL) fails this suite even though the SQL
oracle can't see it. Regenerate intentionally with
scripts/gen_goldens.py (see goldens.py for the validity anchoring).
"""

import pandas as pd
import pytest

from glcmstream import goldens


@pytest.mark.parametrize("name", goldens.GOLDEN_QUERIES)
def test_golden(spark, name):
    import __spark_entry__ as entry

    exp = goldens.read_golden(name)
    got = goldens.canonical_pdf(
        entry.queries()[name](spark, goldens.GOLDEN_SF_DIR))
    pd.testing.assert_frame_equal(got, exp)
    assert len(got) > 0


def test_sliding_continuous_query_leaves_no_temp_dirs(spark):
    """The continuous sliding registry query drains into a temp table
    under a temp checkpoint; both dirs are gone once it returns, and
    the returned frame still holds the golden rows."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as entry

    name = "streaming_sliding_continuous"

    def leftovers():
        return {d for p in ("contslide_*", "ckpt_contslide_*")
                for d in glob.glob(os.path.join(tempfile.gettempdir(), p))}

    before = leftovers()
    df = entry.queries()[name](spark, goldens.GOLDEN_SF_DIR)
    assert leftovers() == before
    pd.testing.assert_frame_equal(goldens.canonical_pdf(df),
                                  goldens.read_golden(name))
