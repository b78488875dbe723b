"""Multi-file dataset loader: union of child loads.

Parity target: /root/reference/openpolicedata/data_loaders/combine_dataset.py
(`CombinedDataset`, :9-172) and dataset_id.py:40-141 (dataset_id parsing).

Spark mapping: the reference's `pd.concat(ignore_index=True)`
(combine_dataset.py:133) becomes `unionByName(allowMissingColumns=True)` over
lazy child DataFrames, so the union itself is free (no shuffle — it just
concatenates partitions). The reference's declared-but-unimplemented join
path (combine_dataset.py:135-138 raises NotImplementedError) IS implemented
here as an outer equi-join on the declared `on` keys.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from openpolicedata_spark.sources.base import DataLoader


class CombinedLoader(DataLoader):
    """Wraps child loaders; `how='concat'` unions, `how='join'` outer-joins
    on `on` keys (the reference only ever declares the join path). The
    children load whole (date/agency filtered); `select` and the row
    window apply to the combined frame, under its final column names. It
    has no date column of its own, so ``sortby="date"`` raises."""

    def __init__(
        self,
        spark,
        children: Sequence[DataLoader],
        how: str = "concat",
        on: Optional[list[str]] = None,
        rename: Optional[dict[str, str]] = None,
    ):
        super().__init__(spark)
        if not children:
            raise ValueError("CombinedLoader requires at least one child loader")
        self.children = list(children)
        self.how = how
        self.on = on
        # Known drifting column renames across files (reference
        # combine_dataset.py handles e.g. Albemarle renames).
        self.rename = rename or {}

    def isfile(self) -> bool:
        return all(c.isfile() for c in self.children)

    def _scan(self, date, agency, columns, window):
        frames = []
        for child in self.children:
            df = child.load(date=date, agency=agency)
            for old, new in self.rename.items():
                if old in df.columns:
                    df = df.withColumnRenamed(old, new)
            frames.append(df)

        if self.how == "concat":
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
            ), False
        if self.how == "join":
            if not self.on:
                raise ValueError("join requires `on` keys (dataset_id.py:29-33)")
            return reduce(lambda a, b: a.join(b, on=self.on, how="outer"),
                          frames), False
        raise ValueError(f"Unknown combine mode: {self.how}")
