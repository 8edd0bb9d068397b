from osm_pbf_convert_spark import zipimport_cache  # noqa: F401  (installs on import)
