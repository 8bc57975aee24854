from .model import QUAD_COLUMNS, QUAD_SCHEMA
from .store import StatementStore

__all__ = ["QUAD_COLUMNS", "QUAD_SCHEMA", "StatementStore"]
