"""Engine limits mirroring the reference's operating envelope.

Reference: /root/reference/app/config.py:22-81 (sizes, nesting, timeout).
These are plain constants; the Spark pipeline applies them as column
predicates (fail-closed quarantine rows), not as request-level HTTP errors.
"""

MAX_FILE_SIZE = 20 * 1024 * 1024          # app/config.py:22-23
MAX_ARCHIVE_SIZE = 20 * 1024 * 1024       # app/config.py:69-70
MAX_EXTRACTED_SIZE = 100 * 1024 * 1024    # app/config.py:72-73 (bomb guard)
MAX_ARCHIVE_NESTING = 3                   # app/config.py:75

# Spark-side knobs (no analogue in the reference: these are the levers that
# replace its threadpool/RLIMIT machinery, SURVEY.md §4).
DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 2048         # rows/batch; bytes capped below
ARROW_MAX_BYTES_PER_BATCH = 32 * 1024 * 1024  # byte-aware cap for 20 MB rows
SKEW_SPLIT_BYTES = 256 * 1024              # whale threshold: page-only docs
                                           # above this (~50-100x the median
                                           # doc) count as oversized
DEFAULT_NUM_BUCKETS = 64                   # checkpoint manifest granularity

# Output span kinds (the explicit form of the reference's inline markers).
OUT_KINDS = ("text", "heading", "table", "code", "media")
