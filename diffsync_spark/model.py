"""Model schema declaration — the reference's DiffSyncModel contract as metadata.

The reference declares, per model class, which pydantic fields are identifiers,
attributes, shortname, and children, and validates the declaration at class
creation (``/root/reference/diffsync/__init__.py:61-159``). Here a model is a
DataFrame whose columns play those roles; ``ModelSchema`` carries the grouping
and performs the same validation against a DataFrame's actual schema.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from diffsync_spark.errors import SchemaDeclarationError


@dataclass(frozen=True)
class ModelSchema:
    """Keyed model declaration.

    name:        model type tag (reference ``_modelname``, ``__init__.py:74-78``).
    identifiers: natural-key columns (``_identifiers``, ``__init__.py:80-84``).
    attributes:  compared payload columns (``_attributes``, ``__init__.py:93-102``).
                 Only declared attributes are compared, exactly like the
                 reference where the diff walks the model class's
                 ``_attributes`` tuple; undeclared non-key/non-version columns
                 ride along in the diff payload (``after``) so apply can
                 propagate them, but never produce an update on their own.
                 Set ``compare_undeclared=True`` to opt in to comparing
                 evolved columns that appear on BOTH sides (bookkeeping
                 columns like ``seq`` usually should not be compared).
    shortname:   optional display-key columns (``_shortname``, ``__init__.py:86-91``).
    parent_key:  identifier columns that foreign-key a parent model — the
                 Spark rendering of ``_children`` uid-lists
                 (``__init__.py:104-110``): children live in their own table
                 keyed by the parent's identifiers, not in nested arrays.
    version_cols: ordering columns for last-writer-wins, newest last
                 (not in the reference — its diff is snapshot-based; required
                 for CDC per BASELINE.json north_star).
    """

    name: str
    identifiers: tuple[str, ...]
    attributes: tuple[str, ...]
    shortname: tuple[str, ...] = ()
    parent_key: tuple[str, ...] = ()
    version_cols: tuple[str, ...] = ()
    compare_undeclared: bool = False

    def __post_init__(self) -> None:
        # Mirrors the mutual-exclusivity check at reference __init__.py:150-159.
        if not self.name:
            raise SchemaDeclarationError("model name must be non-empty")
        if not self.identifiers:
            raise SchemaDeclarationError(f"{self.name}: identifiers must be non-empty")
        id_set, attr_set = set(self.identifiers), set(self.attributes)
        overlap = id_set & attr_set
        if overlap:
            raise SchemaDeclarationError(
                f"{self.name}: columns {sorted(overlap)} declared as both "
                "identifier and attribute"
            )
        if len(id_set) != len(self.identifiers) or len(attr_set) != len(self.attributes):
            raise SchemaDeclarationError(f"{self.name}: duplicate column in declaration")
        if not set(self.parent_key) <= id_set:
            raise SchemaDeclarationError(
                f"{self.name}: parent_key must be a subset of identifiers"
            )

    def validate_frame(self, df: DataFrame, require_attributes: bool = False) -> None:
        """Check that a DataFrame actually has the declared columns.

        Mirrors the field-existence validation at reference
        ``__init__.py:130-148``. Attributes are optional by default because
        the diff compares only the intersection of the two sides' attributes
        (schema-evolution rule, ``diffsync/diff.py:266-279``).
        """
        cols = set(df.columns)
        missing = [c for c in self.identifiers if c not in cols]
        if require_attributes:
            missing += [c for c in self.attributes if c not in cols]
        if missing:
            raise SchemaDeclarationError(
                f"{self.name}: DataFrame is missing declared columns {missing}; "
                f"has {sorted(cols)}"
            )

    def attrs_in(self, df: DataFrame | Sequence[str]) -> list[str]:
        """This side's COMPARED attributes: declared attributes present in
        ``df`` (a DataFrame or its column names; declaration order).

        Faithful to the reference, where the diff walks only the model
        class's ``_attributes`` tuple (``diffsync/diff.py:266-279``) — an
        undeclared pydantic field is never compared. With
        ``compare_undeclared=True``, undeclared non-key/non-version columns
        are appended (frame order) and compared like declared attributes.
        """
        columns = list(getattr(df, "columns", df))
        present = set(columns)
        declared = [c for c in self.attributes if c in present]
        if not self.compare_undeclared:
            return declared
        reserved = set(self.identifiers) | set(self.attributes) | set(self.version_cols)
        return declared + [c for c in columns if c not in reserved]

    def payload_attrs_in(self, df: DataFrame) -> list[str]:
        """This side's PAYLOAD columns: compared attributes plus any
        undeclared non-key/non-version columns (frame order). Evolved columns
        ride along in the diff's ``before``/``after`` structs so apply can
        propagate them, without ever producing an update on their own."""
        compared = self.attrs_in(df)
        reserved = (
            set(self.identifiers) | set(self.version_cols) | set(compared)
        )
        return compared + [c for c in df.columns if c not in reserved]

    def shared_attrs(self, src: DataFrame | Sequence[str],
                     dst: DataFrame | Sequence[str]) -> list[str]:
        """Intersection of both sides' present attributes (each side a
        DataFrame or its column names), in declaration order — the
        reference's order-preserving ``intersection`` on attr keys
        (``diffsync/utils.py:31-34`` via ``diff.py:266-279``). A column present
        on one side only never produces a diff."""
        return [c for c in self.attrs_in(src) if c in set(self.attrs_in(dst))]

    def uid_col(self, sep: str = "__"):
        """String uid ``"__".join(identifier values)`` — display/debug only;
        joins always use the native typed key columns.
        Reference ``create_unique_id`` (``__init__.py:319-325``)."""
        return F.concat_ws(sep, *[F.col(c).cast("string") for c in self.identifiers])

    def shortname_col(self, sep: str = "__"):
        """Display shortname, falling back to uid like reference
        ``get_shortname`` (``__init__.py:363-374``)."""
        if not self.shortname:
            return self.uid_col(sep)
        return F.concat_ws(sep, *[F.col(c).cast("string") for c in self.shortname])


# The flagship model mandated by BASELINE.json input_hint: multi-turn
# conversation transcripts keyed by (conv_id, turn_idx), LWW-versioned by ts.
TRANSCRIPT_MODEL = ModelSchema(
    name="turn",
    identifiers=("conv_id", "turn_idx"),
    attributes=("role", "text", "tool"),
    shortname=("turn_idx",),
    parent_key=("conv_id",),
    version_cols=("ts",),
)

# Conversation-level parent model: the reference's _children hierarchy
# (conversation → turns) rendered as a parent table + FK, per SURVEY §1.1.
CONVERSATION_MODEL = ModelSchema(
    name="conversation",
    identifiers=("conv_id",),
    attributes=(),
    version_cols=(),
)
