from .inmem_store import InMemEntry, InMemStore
from .jdbc_store import JdbcEntry, JdbcStore
from .parquet_store import ParquetEntry, ParquetStore

__all__ = [
    "InMemEntry",
    "InMemStore",
    "JdbcEntry",
    "JdbcStore",
    "ParquetEntry",
    "ParquetStore",
]
