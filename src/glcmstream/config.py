"""Single source of truth for GLCM / engine parameters.

Pinned so the batch plan, the streaming plan, and the pure-numpy test
oracle agree bit-for-bit (SURVEY.md §1.3, FIXTURES.md §3). The semantic
contract replicated here is the rendertile/slidingwindow GLCM pipeline of
the reference (simo1427/libglcmsw — mount empty at survey time, semantics
anchored to BASELINE.json:6,14,15). The shuffle/state width is not a
parameter: session.get_spark sets it to the cluster's core count.
"""

from __future__ import annotations

# --- gray-plane decode -------------------------------------------------
GRAY_LEVELS: int = 32          # L; GLCM is L x L
PLANE_W: int = 256             # html bytes are reshaped to H x W
PLANE_H: int = 256

# --- GLCM displacement (skimage graycomatrix convention) ---------------
GLCM_DISTANCE: int = 1
GLCM_ANGLE: float = 0.0        # radians; dr = round(d sin t), dc = round(d cos t)
# full-pipeline featurize sums counts over the reference's default four
# angles (0, 45, 90, 135 deg) x the distance list — the graycomatrix
# contract takes lists of both; the sum is still a monoid, one L x L matrix
GLCM_ANGLES: tuple[float, ...] = (0.0, 0.7853981633974483,
                                  1.5707963267948966, 2.356194490192345)
GLCM_DISTANCES: tuple[int, ...] = (1, 2)
SYMMETRIC: bool = True
NORMED: bool = True

# --- rendertile (sliding-window property map) ---------------------------
RENDER_PLANE: int = 64         # rendertile uses a smaller plane for the map
RENDER_WS: int = 9             # window size (odd)

# --- Haralick feature order (fixed; schema + oracle share it) -----------
HARALICK_FEATURES = (
    "contrast",
    "dissimilarity",
    "homogeneity",
    "energy",
    "correlation",
    "asm",
)

# --- streaming ----------------------------------------------------------
WATERMARK_DELAY = "30 minutes"
TUMBLING_WINDOW = "10 minutes"
SLIDING_WINDOW = ("10 minutes", "5 minutes")
SESSION_GAP = "5 minutes"
SALT_BUCKETS: int = 8          # two-phase salted aggregation fan-out

# --- spark session defaults (see session.py) ----------------------------
# 512 rows/batch: at real page sizes (~50-100 KiB html) an Arrow batch is
# ~25-50 MiB; 32 concurrent tasks keep JVM-side buffering bounded (the 10k
# default put ~100 MiB x 32 tasks in flight and GC-stormed the local JVM)
ARROW_MAX_RECORDS = 512
SESSION_TZ = "UTC"
