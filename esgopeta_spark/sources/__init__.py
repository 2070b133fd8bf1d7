from esgopeta_spark.sources.io import (
    read_quads,
    write_quads,
)

__all__ = ["read_quads", "write_quads"]
