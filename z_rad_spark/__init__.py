"""z_rad_spark — a PySpark-native point-in-time feature-engineering engine.

Recasts Z-Rad's per-image radiomic feature extraction (reference:
/root/reference, hubertgabrys/z-rad) as per-conversation, per-timestamp
feature vectors over a table of multi-turn agent transcripts with schema
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Spark-first design: declarative DataFrame plans for everything relational
(as-of joins, sessionization, lag/lead, backfill, dedup, similarity), and
Arrow-vectorized NumPy kernels — never per-row Python UDFs — called
once per hash bucket of conversations, the buckets packed onto one
``mapInPandas`` task per core slot (operators/skew.map_conversations),
for the per-entity feature families (first-order statistics, histogram,
IVH, and GLCM/GLRLM/GLSZM/GLDZM/NGTDM/NGLDM texture analogues over the
temporal axis).
"""

__version__ = "0.1.0"

from .config import FeatureConfig  # noqa: F401
from .extractor import extract_features  # noqa: F401
