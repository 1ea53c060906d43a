"""What ``serve_vector`` and the online snapshot's lookup both return."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any


@dataclass
class FeatureVector:
    entity_id: str
    features: dict[str, Any]
    version: str | None
    retrieved_at: str
