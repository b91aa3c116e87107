"""What the probes in this directory share: emptying the reader's
decoded-column cache, so that a timed read decodes its parquet again.
Imported by path (``python tools/<probe>.py`` puts this directory first
on ``sys.path``)."""


def drop_cache() -> None:
    """Empty ``index.reader.SEGMENT_CACHE``. A version of the engine
    without the cache reads parquet on every call: nothing to empty."""
    from lucene_spark.index import reader

    cache = getattr(reader, "SEGMENT_CACHE", None)
    if cache is not None:
        cache.clear()
