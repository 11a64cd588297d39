from iatlas_cbioportal_export_spark.streaming.events import (  # noqa: F401
    hourly_event_counts_batch,
    sessionize,
)
