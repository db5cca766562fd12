from .csv import read_entity_csv, write_sis_csv  # noqa: F401
from .declared import read_declared_csv  # noqa: F401
from .schemas import ENTITY_CSV_SCHEMAS  # noqa: F401
from .rest import ReportSource, SISImportSink  # noqa: F401
from .jdbc import jdbc_options  # noqa: F401
from .pyds import CanvasReportDataSource, register_canvas_report  # noqa: F401
from .webdataset import WebDatasetDataSource, register_webdataset  # noqa: F401
from .warc import WarcDataSource, register_warc, iter_warc_records  # noqa: F401
