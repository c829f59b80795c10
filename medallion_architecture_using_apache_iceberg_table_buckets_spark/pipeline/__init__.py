"""Medallion pipeline: raw files -> bronze (append) -> silver (upsert).

Engine equivalents of the reference's two jobs
(scripts/raw-bronze.py, scripts/bronze-silver.py) and their Step
Functions orchestration (aws-step-function/step-function.json).
"""

from .checkpoint import JsonCheckpoint  # noqa: F401
from .ingest import HadoopIncrementalFileSource, ingest_raw_to_bronze  # noqa: F401
from .cdc import bronze_to_silver  # noqa: F401
from .gold import build_gold_mart  # noqa: F401
from .runner import MedallionPipeline  # noqa: F401
