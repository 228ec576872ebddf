from .pipeline import IngestPipeline, build_ingest_stream

__all__ = ["IngestPipeline", "build_ingest_stream"]
