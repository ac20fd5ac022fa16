"""Custom operators the reference lacks but a 100 TB training-data pipeline
needs (BASELINE.json north star): dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search, text analysis, and
multimodal-column plumbing — plus the window-`collect` mapping that gives
API parity with the reference's arbitrary window callback
(/root/reference/src/stream.ts:133).

Everything here composes stock DataFrame ops; Python appears only as
Arrow-batched UDFs (mapInArrow / mapInPandas / applyInPandas), never
row-at-a-time.
"""

from .asof import asof_join  # noqa: F401
from .rangejoin import bucketed_range_join  # noqa: F401
