// Hadoop's checksummed file:// FileSystem, with permission bits set by one
// chmod(2) syscall instead of a forked `chmod` process (what Hadoop does
// whenever libhadoop is absent). Rebuild the committed jar, from this directory:
//   javac --release 17 -cp "$(python -c 'import os,pyspark;print(os.path.dirname(pyspark.__file__))')/jars/*" -d classes SyscallChmodFileSystem.java && jar cf syscall-chmod-fs.jar -C classes . && rm -r classes
package chess_lakehouse_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/** {@code fs.file.impl}: a {@link LocalFileSystem} (checksums kept) over {@link Raw}. */
public class SyscallChmodFileSystem extends LocalFileSystem {
  public SyscallChmodFileSystem() {
    super(new Raw());
  }

  /** Sets the user, group and other bits through NIO; the sticky bit, which NIO cannot express, goes to Hadoop. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission b : PosixFilePermission.values()) { // OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
        if ((mode & (0400 >> b.ordinal())) != 0) bits.add(b);
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl} (FileContext): Hadoop's {@code LocalFs}, over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's {@code RawLocalFs}, delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
