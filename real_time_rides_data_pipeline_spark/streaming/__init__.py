"""Stream-only helpers (the batch/stream-unified medallion transforms live
one level up in ``pipeline.py``)."""
