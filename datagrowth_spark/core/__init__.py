"""Kernel utilities: config, registry, reach, the session, the
session cache registry and the on-disk entry lifecycle (``entries``)."""
