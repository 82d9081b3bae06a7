package gps.model

object GpsFix {
  /** Sentence families the reference dispatches on
    * (class.nmea.parser.php:106-111). */
  val SentenceTypes: Seq[String] =
    Seq("GPGGA", "GPGLL", "GPGSA", "GPGSV", "GPRMC", "GPVTG")
}
