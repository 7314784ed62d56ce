from .readers import TABLES, load_table
from .txstream import TxTableDataSource

__all__ = ["TABLES", "load_table", "TxTableDataSource"]
