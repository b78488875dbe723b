"""Portal date-column format probing.

Parity: /root/reference/openpolicedata/data_loaders/socrata.py:524-636
(`__date_format_search`: portal metadata + LIKE probe queries) and
arcgis_class.py:296-361 (`_find_string_type_date_query_format`: sample
1000 non-null dates, classify against a regex table).

Spark disposition (SURVEY §2.1): a driver-side planning step. Instead of
issuing per-format probe queries, we fetch ONE sample page through the
client and classify the values with the date layer's vote
(`functions.datetime._strategy_from_values`, the vote standardize and the
file loaders use). `where.format_of_strategy` maps the result to the
DateFormat that drives the WHERE builders in where.py.
"""

from __future__ import annotations

from typing import Optional

from openpolicedata_spark.functions.datetime import _strategy_from_values
from openpolicedata_spark.sources.portals.core import PortalClient
from openpolicedata_spark.sources.portals.where import DateFormat, format_of_strategy


def probe_date_format(client: PortalClient, date_field: str,
                      sample_n: int = 1000) -> Optional[DateFormat]:
    """ONE sample fetch through the portal client → DateFormat for the
    WHERE builders. Replaces the reference's per-format probe-query loop
    (socrata.py:552-636) with a single page + local classification. The
    page's JSON values vote as the Spark column they would load as: all
    numbers as a numeric column, anything else as text."""
    rows = client.fetch(0, sample_n, None, select=None)
    vals = [v for v in (r.get(date_field) for r in rows) if v not in (None, "")]
    numeric = all(isinstance(v, (int, float)) for v in vals)
    return format_of_strategy(
        _strategy_from_values("double" if numeric else "string", vals))
