"""Relational operator surface (SURVEY §2.12) as DataFrame builders."""
