"""Place geocoding with a persistent cache over an injectable fetch
function (``geocoder``)."""
